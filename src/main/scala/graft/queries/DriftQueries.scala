package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Drift, EditSim, SetSimJoin, TextAnalysis}
import graft.queries.{Oracle => O}
import graft.sources.Tables

/** Drift-monitoring, retrieval, and edit-similarity gates — round-4
  * additions to the training-data-pipeline surface:
  * KL/JS source-vs-corpus divergence, chi-square independence cells,
  * SymSpell edit-distance-1 join, BM25 ranking, and the asymmetric
  * containment (quote/excerpt) join. All hash-checked against DuckDB.
  */
object DriftQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Per-source token-distribution drift vs the corpus: KL and JS
    * divergence ([[Drift.tokenDivergence]]). The oracle spells the SAME
    * closed-form absent-word tail (`ln2·(1−Σq)`); DriftSpec proves that
    * form equals the naive group×vocabulary expansion, so the gate pins
    * cross-engine numerics and the spec pins the algebra.
    */
  def qKlDrift(s: SparkSession, dir: String): DataFrame =
    Drift.tokenDivergence(docs(s, dir), "source", "text")

  /** Chi-square independence cells for lang × source — observed,
    * expected-under-independence, and per-cell contribution.
    */
  def qChi2(s: SparkSession, dir: String): DataFrame =
    Drift.chiSquareCells(docs(s, dir), "lang", "source")

  /** Edit-distance-1 pairs over customer names (ID-like strings, the
    * record-linkage shape) via deletion-neighborhood keys — the oracle
    * is the brute-force O(n²) levenshtein join, so the SymSpell
    * candidate generator's EXACT recall is proven, not assumed.
    */
  def qEditsim(s: SparkSession, dir: String): DataFrame =
    EditSim.edit1Pairs(Tables.table(s, dir, "customer"), "c_name")
      .orderBy("w1", "w2")

  /** BM25 top-20 over the documents table for a fixed query-term set —
    * the retrieval scorer composed from tf, df, doc-length, and corpus
    * stats in one pass.
    */
  def qBm25(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25(docs(s, dir), "doc_id", "text",
      Seq("hash", "join", "scan"))

  /** Asymmetric containment pairs over 3-gram shingle sets at t=0.8 —
    * finds docs whose shingles are (nearly) a subset of another doc's,
    * the direction Jaccard dilutes away. Oracle = brute-force list
    * intersection over all ordered pairs.
    */
  def qContainment(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).withColumn("sh",
      TextAnalysis.shingles(TextAnalysis.tokens(col("text")), 3))
    SetSimJoin.containmentJoin(d, "doc_id", col("sh"), 0.8)
      .select(col("id_a"), col("id_b"), Det.r6(col("cont")).as("cont"))
      .orderBy("id_a", "id_b")
  }

  /** PMI collocations ([[TextAnalysis.pmiBigrams]]): top-50 adjacent
    * bigrams by pointwise mutual information at min count 5 — the
    * phrase-mining score whose cut order (r6(pmi) DESC, w1, w2) is
    * total, so the top-K boundary is cross-engine exact.
    */
  def qPmi(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.pmiBigrams(docs(s, dir), "text", minCount = 5, topK = 50)
      .orderBy(col("pmi").desc, col("w1"), col("w2"))

  /** Per-doc unigram entropy + type–token ratio
    * ([[TextAnalysis.unigramEntropy]]) — vocabulary-diversity quality
    * signals, r6-per-term before the decimal sum.
    */
  def qEntropy(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.unigramEntropy(docs(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** Two-sample KS drift ([[Drift.ksStatistic]]) between the click and
    * purchase `value` distributions: max ECDF gap + where it occurs.
    */
  def qKsDrift(s: SparkSession, dir: String): DataFrame =
    Drift.ksStatistic(Tables.table(s, dir, "events"),
      "value", "event_type", "click", "purchase")

  /** Mutual information ([[graft.ops.Stats.mutualInformation]])
    * between event type and day-of-week — the nats-valued dependence
    * audit complementing q_chi2's significance cells; per-cell PMI
    * terms plus the repeated total.
    */
  def qMi(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.mutualInformation(
      Tables.events(s, dir)
        .select(col("event_type").as("x"), dayofweek(col("ts")).as("y")),
      "x", "y")

  /** Deterministic multiplier-bootstrap CI
    * ([[graft.ops.Stats.bootstrapMeanCI]]) for the mean event value:
    * 64 hash-seeded Poisson(1)-weighted replicates, order-statistic
    * 95% bounds — the uncertainty readout a point estimate lacks.
    */
  def qBootstrap(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.bootstrapMeanCI(
      Tables.events(s, dir), "event_id", "value", b = 64)

  private val ln2 = "0.6931471805599453"

  val gates: Map[String, Gate] = Gate.registry(
    "q_kl_drift" -> Gate(qKlDrift _,
      "WITH tok AS (SELECT source AS g, unnest(string_split(text, ' ')) AS w " +
        "FROM documents), " +
        "gw AS (SELECT g, w, count(*) AS c_gw FROM tok GROUP BY 1, 2), " +
        "gt AS (SELECT g, CAST(sum(c_gw) AS BIGINT) AS t_g FROM gw GROUP BY 1), " +
        "wt AS (SELECT w, CAST(sum(c_gw) AS BIGINT) AS c_w FROM gw GROUP BY 1), " +
        "tt AS (SELECT CAST(sum(c_gw) AS BIGINT) AS T FROM gw), " +
        "terms AS (SELECT g, t_g, " +
        O.r6("p * ln(p / q)") + " AS kl_t, " +
        O.r6("p * ln(p / ((p + q) / 2))") + " AS a_t, " +
        O.r6("q * ln(q / ((p + q) / 2))") + " AS b_t, " +
        O.r6("q") + " AS q_t FROM " +
        "(SELECT g, t_g, CAST(c_gw AS DOUBLE) / t_g AS p, " +
        "CAST(c_w AS DOUBLE) / T AS q " +
        "FROM gw JOIN gt USING (g) JOIN wt USING (w), tt)) " +
        "SELECT g AS source, max(t_g) AS n_tokens, " +
        O.dsum("kl_t") + " AS kl, " +
        O.r6(s"(${O.dsumRaw("a_t")} + ${O.dsumRaw("b_t")} + " +
          s"$ln2 * (1.0 - ${O.dsumRaw("q_t")})) / 2.0") + " AS js " +
        "FROM terms GROUP BY 1 ORDER BY source"),
    "q_chi2" -> Gate(qChi2 _,
      "WITH cells AS (SELECT lang, source, count(*) AS obs " +
        "FROM documents GROUP BY 1, 2), " +
        "ra AS (SELECT lang, CAST(sum(obs) AS BIGINT) AS _ra " +
        "FROM cells GROUP BY 1), " +
        "cb AS (SELECT source, CAST(sum(obs) AS BIGINT) AS _cb " +
        "FROM cells GROUP BY 1), " +
        "nn AS (SELECT CAST(sum(obs) AS BIGINT) AS _n FROM cells) " +
        "SELECT lang, source, obs, " +
        O.r6("_ra * _cb / _n") + " AS expected, " +
        O.r6("(obs - _ra * _cb / _n) * (obs - _ra * _cb / _n) / " +
          "(_ra * _cb / _n)") + " AS contrib " +
        "FROM cells JOIN ra USING (lang) JOIN cb USING (source), nn " +
        "ORDER BY lang, source"),
    // bigram stream via list_zip of the shifted token list — the same
    // adjacent pairing as Spark's zip_with(slice, slice)
    "q_pmi" -> Gate(qPmi _,
      "WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents), " +
        "uni AS (SELECT unnest(t) AS w FROM toks), " +
        "uc AS (SELECT w, count(*) AS c_w FROM uni GROUP BY 1), " +
        "ut AS (SELECT CAST(count(*) AS BIGINT) AS n_uni FROM uni), " +
        "big AS (SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS z " +
        "FROM toks), " +
        "bc AS (SELECT z[1] AS w1, z[2] AS w2, count(*) AS c_ab " +
        "FROM big GROUP BY 1, 2), " +
        "bt AS (SELECT CAST(count(*) AS BIGINT) AS n_bi FROM big), " +
        "scored AS (SELECT w1, w2, c_ab, " +
        O.r6("ln((CAST(c_ab AS DOUBLE) / n_bi) / " +
          "((CAST(a.c_w AS DOUBLE) / n_uni) * " +
          "(CAST(b.c_w AS DOUBLE) / n_uni)))") + " AS pmi " +
        "FROM bc JOIN uc a ON bc.w1 = a.w JOIN uc b ON bc.w2 = b.w, ut, bt " +
        "WHERE c_ab >= 5) " +
        "SELECT w1, w2, c_ab, pmi FROM scored " +
        "ORDER BY pmi DESC, w1, w2 LIMIT 50"),
    "q_entropy" -> Gate(qEntropy _,
      "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w " +
        "FROM documents), " +
        "wc AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2), " +
        "dn AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n, " +
        "count(*) AS d FROM wc GROUP BY 1), " +
        "terms AS (SELECT wc.doc_id, n, d, " +
        O.r6("-(CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)") +
        " AS h_t FROM wc JOIN dn USING (doc_id)) " +
        "SELECT doc_id, max(n) AS n_tokens, max(d) AS n_types, " +
        O.r6("CAST(max(d) AS DOUBLE) / max(n)") + " AS ttr, " +
        O.dsum("h_t") + " AS entropy " +
        "FROM terms GROUP BY 1 ORDER BY doc_id"),
    // ECDF over the distinct-value grid; gaps r6-rounded before the
    // max, at_value = min value among r6-equal maxima (total order)
    "q_ks_drift" -> Gate(qKsDrift _,
      "WITH ab AS (SELECT value AS v, " +
        "CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia, " +
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ib " +
        "FROM events WHERE event_type IN ('click', 'purchase')), " +
        "pv AS (SELECT v, CAST(sum(ia) AS BIGINT) AS ca, " +
        "CAST(sum(ib) AS BIGINT) AS cb FROM ab GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na, " +
        "CAST(sum(cb) AS BIGINT) AS nb FROM pv), " +
        "ecdf AS (SELECT v, sum(ca) OVER (ORDER BY v ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a, " +
        "sum(cb) OVER (ORDER BY v ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b FROM pv), " +
        "dv AS (SELECT v, na, nb, " +
        O.r6("abs(CAST(cum_a AS DOUBLE) / na - CAST(cum_b AS DOUBLE) / nb)") +
        " AS d FROM ecdf, tot), " +
        "mx AS (SELECT max(d) AS mxd FROM dv) " +
        "SELECT max(na) AS n_a, max(nb) AS n_b, max(d) AS ks, " +
        "min(CASE WHEN d = mxd THEN v END) AS at_value FROM dv, mx"),
    "q_bootstrap" -> Gate(qBootstrap _, graft.ops.Stats.bootstrapMeanCIOracleSql(
      "SELECT event_id AS id, value AS x FROM events", b = 64)),
    "q_mi" -> Gate(qMi _, graft.ops.Stats.mutualInformationOracleSql(
      "SELECT event_type AS x, (dayofweek(ts) + 1)::INT AS y FROM events")),
    "q_editsim" -> Gate(qEditsim _, // brute force: proves the deletion-key join's recall.
      // DISTINCT first — the operator's contract is pairs of distinct
      // VALUES; the raw row×row spelling coincided with it only while
      // every name was unique (on the 10× replica, 10 copies of each
      // name made the row join emit each value-pair 100 times)
      "WITH w AS (SELECT DISTINCT c_name FROM customer " +
        "WHERE c_name IS NOT NULL) " +
        "SELECT a.c_name AS w1, b.c_name AS w2 FROM w a, w b " +
        "WHERE a.c_name < b.c_name AND levenshtein(a.c_name, b.c_name) <= 1 " +
        "ORDER BY w1, w2"),
    "q_bm25" -> Gate(qBm25 _,
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
        "FROM tf JOIN dfq USING (t) JOIN dl USING (doc_id), stats) " +
        "SELECT doc_id, " + O.dsum("s") + " AS score FROM terms " +
        "GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 20"),
    // inverted-index respelling (r12, VERDICT r11 task 2; §10n
    // precedent): the former `s a, s b` row×row spelling spilled
    // unbounded at sf1. Any pair with containment ≥ 0.8 > 0 shares a
    // shingle, so unnest → equi-join on the shingle → group-count IS
    // |a ∩ b| (shingle lists are list_distinct), and the candidate set
    // is bounded by Σ df² — the engine's own index shape — instead of
    // n². Ordered pairs (<>) and cont = inter / |a| are unchanged.
    "q_containment" -> Gate(qContainment _,
      "WITH w AS (SELECT doc_id, string_split(text, ' ') AS w " +
        "FROM documents), " +
        "s AS (SELECT doc_id, list_distinct(list_transform(" +
        "range(greatest(len(w) - 2, 0)), " +
        "j -> w[j+1] || ' ' || w[j+2] || ' ' || w[j+3])) AS sh " +
        "FROM w WHERE len(w) >= 3), " +
        "sz AS (SELECT doc_id, len(sh) AS n FROM s WHERE len(sh) > 0), " +
        "tok AS (SELECT doc_id, unnest(sh) AS t FROM s), " +
        "pc AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "count(*) AS inter FROM tok a JOIN tok b ON a.t = b.t " +
        "AND a.doc_id <> b.doc_id GROUP BY 1, 2) " +
        "SELECT id_a, id_b, " +
        O.r6("CAST(inter AS DOUBLE) / na.n") + " AS cont " +
        "FROM pc JOIN sz na ON id_a = na.doc_id " +
        "WHERE CAST(inter AS DOUBLE) / na.n >= 0.8 " +
        "ORDER BY id_a, id_b"),
  )
}
