package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Selection
import graft.queries.{Oracle => O}
import graft.sources.Tables

/** Gate queries for the data-selection operators ([[graft.ops.Selection]]):
  * DSIR importance resampling, CCNet perplexity banding, temperature-
  * scaled source mixing. All hash-checked — the operators are built on
  * md5 buckets and the r6/decimal float discipline precisely so the
  * selection decisions (which documents train) are reproducible AND
  * cross-engine verifiable.
  */
object SelectionQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "documents")

  /** DuckDB spelling of [[graft.ops.Corpus.hashBucket]] over an
    * arbitrary expression (CorpusQueries.bucketSql is id-typed).
    */
  private def bucketSql(salt: String, e: String, buckets: Int): String =
    s"(('0x' || substr(md5('$salt' || $e), 1, 8))::BIGINT % $buckets)"

  /** Top-50 raw-pool docs most resembling the English target slice —
    * the DSIR selection step. The target/raw split keys off `lang`, so
    * a high score reads "non-English doc whose hashed-unigram profile
    * looks most like the English corpus".
    */
  def qDsir(s: SparkSession, dir: String): DataFrame =
    Selection.dsirSelect(docs(s, dir), "doc_id", "text",
        col("lang") === "en", k = 50)
      .orderBy("doc_id")

  def qPplBand(s: SparkSession, dir: String): DataFrame =
    Selection.perplexityBands(docs(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** α=0.5 temperature mixture over the 20 sources, char mass, target
    * 150 docs — rates land strictly inside (0,1) at sf0.01 so the gate
    * exercises the non-degenerate path.
    */
  def qMixTemp(s: SparkSession, dir: String): DataFrame =
    Selection.temperatureMix(docs(s, dir), "source", "doc_id", "n_chars",
        targetDocs = 150, alpha = 0.5)
      .orderBy("source")

  val gates: Map[String, Gate] = Gate.registry(
    // mirrors Selection.dsirScores stage for stage: occurrence →
    // (doc,bucket) counts → bucket model + totals → per-term r6 λ →
    // decimal per-doc sum; top-k spelled ORDER BY ... LIMIT like the
    // engine's TakeOrdered
    "q_dsir" -> Gate(qDsir _,
      "WITH occ AS (SELECT doc_id, lang = 'en' AS tgt, u.t AS tok " +
        "FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents), " +
        "unnest(w) AS u(t)), " +
        s"bk AS (SELECT doc_id, tgt, ${bucketSql("dsir", "tok", 4096)} AS b FROM occ), " +
        "db AS (SELECT doc_id, tgt, b, count(*) AS n FROM bk GROUP BY 1, 2, 3), " +
        "m AS (SELECT b, sum(CASE WHEN tgt THEN n ELSE 0 END) AS ct, " +
        "sum(CASE WHEN NOT tgt THEN n ELSE 0 END) AS cr FROM db GROUP BY 1), " +
        "t AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM m), " +
        "lam AS (SELECT b, " + O.r6("ln((ct + 1.0) / (nt + 4096.0))") + " - " +
        O.r6("ln((cr + 1.0) / (nr + 4096.0))") + " AS lam FROM m CROSS JOIN t), " +
        "sc AS (SELECT doc_id, sum(n)::BIGINT AS n_tokens, " +
        O.r6("CAST(CAST(sum(CAST(lam AS DECIMAL(25,6)) * n) AS VARCHAR) AS DOUBLE)") + " AS score " +
        "FROM db JOIN lam USING (b) WHERE NOT tgt GROUP BY doc_id) " +
        "SELECT doc_id, n_tokens, score FROM " +
        "(SELECT * FROM sc ORDER BY score DESC, doc_id LIMIT 50) ORDER BY doc_id"),
    // the engine's percentile_disc is the SQL-standard "smallest value
    // whose cume_dist >= p" — spelled as exactly that, since DuckDB's
    // quantile_disc uses a different (position-interpolating) rule
    "q_ppl_band" -> Gate(qPplBand _,
      "WITH sc AS (" + PrepQueries.surprisalSelect + "), " +
        "cd AS (SELECT *, cume_dist() OVER (ORDER BY mean_surprisal) AS cd FROM sc), " +
        "cuts AS (SELECT min(CASE WHEN cd >= 0.333333 THEN mean_surprisal END) AS t1, " +
        "min(CASE WHEN cd >= 0.666667 THEN mean_surprisal END) AS t2 FROM cd) " +
        "SELECT doc_id, n_bigrams, mean_surprisal, " +
        "CASE WHEN mean_surprisal <= t1 THEN 'head' " +
        "WHEN mean_surprisal <= t2 THEN 'middle' ELSE 'tail' END AS band, " +
        "(CASE WHEN mean_surprisal <= t2 THEN 1 ELSE 0 END)::INT AS keep " +
        "FROM sc CROSS JOIN cuts ORDER BY doc_id"),
    // sqrt (correctly rounded per IEEE, unlike pow) → r6 weight →
    // exact decimal normalization sum → r6 rate → floor threshold —
    // every stage spelled identically to the engine
    "q_mix_temp" -> Gate(qMixTemp _,
      "WITH st AS (SELECT source, count(*) AS n, sum(n_chars)::BIGINT AS mass " +
        "FROM documents GROUP BY 1), " +
        "w AS (SELECT *, " + O.r6("sqrt(mass::DOUBLE)") + " AS w FROM st), " +
        "ws AS (SELECT CAST(CAST(sum(CAST(w AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS wsum FROM w), " +
        "r AS (SELECT source, n, mass, " +
        O.r6("least(1.0, 150.0 * " + O.r6("w / wsum") + " / n)") + " AS rate " +
        "FROM w CROSS JOIN ws), " +
        "thr AS (SELECT *, CAST(floor(rate * 10000) AS BIGINT) AS thr FROM r), " +
        "k AS (SELECT d.source, d.doc_id, CASE WHEN " +
        s"${bucketSql("tmix", "d.doc_id::VARCHAR", 10000)} < t.thr " +
        "THEN 1 ELSE 0 END AS kept FROM documents d JOIN thr t USING (source)) " +
        "SELECT source, any_value(n) AS n_docs, any_value(mass) AS mass, " +
        "any_value(rate) AS rate, sum(kept)::BIGINT AS n_kept, " +
        "sum(CASE WHEN kept = 1 THEN doc_id ELSE 0 END)::BIGINT AS kept_id_sum " +
        "FROM k JOIN thr USING (source) GROUP BY source ORDER BY source"),
  )
}
