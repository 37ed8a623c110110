package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Bpe, TextPrep}
import graft.queries.{Oracle => O}
import graft.sources.Tables

/** Gate queries for the training-data preparation operators
  * ([[graft.ops.TextPrep]]): chunking, PII redaction, bigram-LM
  * surprisal. DuckDB-hash-checked like the rest of the gate; the
  * redaction REGEXES are additionally proven on crafted PII fixtures in
  * TextPrepSpec (the corpus fixture is PII-free, so the gate checks the
  * identity path + zero counts there).
  */
object PrepQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "documents")

  def qChunks(s: SparkSession, dir: String): DataFrame =
    TextPrep.chunk(docs(s, dir), "doc_id", "text", chunkSize = 16, stride = 12)
      .orderBy("doc_id", "chunk_idx")

  def qRedact(s: SparkSession, dir: String): DataFrame =
    TextPrep.redactPii(docs(s, dir), "text")
      .select("doc_id", "text_redacted", "n_redactions")
      .orderBy("doc_id")

  def qSurprisal(s: SparkSession, dir: String): DataFrame =
    TextPrep.bigramSurprisal(docs(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** Distributed BPE vocabulary learning ([[graft.ops.Bpe]]): six
    * merges learned from the corpus word vocabulary, hash-checked
    * against a GENERATED unrolled-CTE DuckDB program (same init, pair
    * counts, tie-breaks, and greedy string-replace application).
    */
  def qBpe(s: SparkSession, dir: String): DataFrame =
    Bpe.learnMerges(docs(s, dir), "text", nMerges = 6).orderBy("step")

  /** Tokenize with the learned BPE vocab ([[Bpe.encodedCounts]]):
    * per-doc word/char/BPE-token counts and the chars-per-token
    * fertility ratio.
    */
  def qBpeEncode(s: SparkSession, dir: String): DataFrame =
    Bpe.encodedCounts(docs(s, dir), "doc_id", "text", nMerges = 6)
      .orderBy("doc_id")

  /** Corpus-frequency boilerplate removal
    * ([[TextPrep.removeDuplicateChunks]]): disjoint 8-token chunks,
    * any chunk shared by ≥ 2 distinct documents dropped, survivors
    * reassembled — the duplicated-paragraph pass of a CCNet/C4-style
    * pipeline, with the per-document removal audit.
    */
  def qBoilerplate(s: SparkSession, dir: String): DataFrame =
    TextPrep.removeDuplicateChunks(docs(s, dir), "doc_id", "text",
        chunkSize = 8, minDf = 2)
      .orderBy("doc_id")

  def qRepetition(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.repetitionMetrics(docs(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** URL-canonicalization fixture (S4 literal relation): spelling
    * variants of the same resources — case, default ports, `www.`,
    * fragments, trailing slashes, tracking params, param order — plus
    * non-collapsing controls (a real non-default port, distinct hosts).
    * Shared verbatim with the oracle's VALUES list.
    */
  private val UrlFixture: Seq[(Int, String)] = Seq(
    1 -> "HTTP://WWW.Example.com:80/a/b/?utm_source=x&b=2&a=1#frag",
    2 -> "http://example.com/a/b?a=1&b=2",
    3 -> "https://Example.COM:443/",
    4 -> "https://example.com",
    5 -> "https://sub.example.com/path/",
    6 -> "https://sub.example.com/path#section-2",
    7 -> "http://example.com:8080/x",
    8 -> "https://example.com/search?q=spark&utm_campaign=z&gclid=abc",
    9 -> "https://example.com/search?q=spark",
    10 -> "http://www.news.org/story?id=7&ref=tw&fbclid=zz",
    11 -> "http://news.org/story/?id=7",
    12 -> "https://a.io/p?z=1&y=2&x=3",
  )

  /** [[graft.ops.TextPrep.canonicalUrl]] over the fixture, with each
    * canonical form's duplicate-group size — the URL-level exact-dedup
    * key a crawl pipeline groups on.
    */
  def qUrlCanon(s: SparkSession, dir: String): DataFrame = {
    val urls = s.createDataFrame(UrlFixture).toDF("id", "url")
    urls
      .withColumn("canon_url", TextPrep.canonicalUrl(col("url")))
      .withColumn("n_dupes", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("canon_url")))
      .select("id", "canon_url", "n_dupes")
      .orderBy("id")
  }

  /** Per-source Zipf fit over the 40 most frequent tokens
    * ([[graft.ops.TextAnalysis.zipfFit]]).
    */
  def qZipf(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.zipfFit(docs(s, dir), "source", "text", topK = 40)
      .orderBy("source")

  /** Unicode-normalization fixture: composed/decomposed spellings of
    * the same visible text (é both ways, combining tildes/diaereses,
    * the U+212B angstrom sign that NFC maps to U+00C5), plus an
    * ASCII control. Non-ASCII code points are spliced into the oracle
    * as chr(N) so the two engines provably receive identical input.
    */
  private val NormFixture: Seq[(Int, String)] = Seq(
    1 -> "Café menu",       // decomposed e + U+0301
    2 -> "Café menu",        // precomposed U+00E9 — collapses with 1
    3 -> "El Niño",
    4 -> "ASCII only text",
    5 -> "mühleisen zürich",
    6 -> "Ångström unit", // U+212B → U+00C5 under NFC
    // marks beyond Mn: utf8proc's STRIPMARK drops Mc and Me too, and
    // the fold must agree cross-engine on all three categories
    7 -> "का matra", // Devanagari KA + spacing vowel sign AA (Mc)
    8 -> "a⃝ enclosed", // combining enclosing circle (Me)
  )

  /** Codegen'd Unicode normalization ([[graft.functions.UnicodeNorm]]):
    * NFC canonical form (the pre-tokenization pass that makes
    * composed/decomposed spellings hash identically), the accent fold,
    * and the NFC-keyed duplicate-group size — checked against DuckDB's
    * utf8proc-backed `nfc_normalize`/`strip_accents`.
    */
  def qNormalize(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.UnicodeNorm
    val rows = s.createDataFrame(NormFixture).toDF("id", "text")
    rows
      .withColumn("nfc_text", UnicodeNorm.nfc(col("text")))
      .withColumn("folded_text", UnicodeNorm.stripAccents(col("text")))
      .withColumn("n_dupes", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("nfc_text")))
      .select("id", "nfc_text", "folded_text", "n_dupes")
      .orderBy("id")
  }

  /** Blocklist for the domain-kill gate (S4 literal): a registrable
    * domain (subdomains must match), a multi-label domain, and an
    * entry no fixture URL is under.
    */
  private val Blocklist: Seq[String] = Seq("example.com", "a.io", "blocked.org")

  /** [[graft.ops.TextPrep.flagBlockedDomains]] over the URL fixture:
    * exact-domain and subdomain hits flagged, lookalike hosts
    * (news.org vs blocked.org, sub.example.com IS under example.com)
    * decided correctly by the suffix join.
    */
  def qBlocklist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val urls = s.createDataFrame(UrlFixture).toDF("id", "url")
    val bl = Blocklist.toDF("domain")
    TextPrep.flagBlockedDomains(urls, "url", bl)
      .select("id", "host", "blocked")
      .orderBy("id")
  }

  private def redactSql: String =
    TextPrep.PiiPatterns.foldLeft("text") { case (expr, (pat, tag)) =>
      val p = pat.replace("\\", "\\\\").replace("'", "''")
      // 'g': DuckDB replaces only the first match by default; Spark all
      s"regexp_replace($expr, '$p', '$tag', 'g')"
    }

  val gates: Map[String, Gate] = Gate.registry(
    "q_chunks" -> Gate(qChunks _,
      "WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "s AS (SELECT doc_id, w, greatest(CAST(ceil((len(w) - 16)::DOUBLE / 12) AS INT), 0) AS last FROM w), " +
        "c AS (SELECT doc_id, CAST(t.i AS INT) AS chunk_idx, " +
        "w[CAST(t.i*12 + 1 AS INT):CAST(t.i*12 + 16 AS INT)] AS toks " +
        "FROM s, unnest(range(0, s.last + 1)) AS t(i)) " +
        "SELECT doc_id, chunk_idx, array_to_string(toks, ' ') AS chunk_text, " +
        "len(toks)::INT AS n_tokens FROM c WHERE len(toks) > 0 " +
        "ORDER BY doc_id, chunk_idx"),
    // disjoint-chunk mirror of the q_chunks CTE (size 8 = stride 8),
    // then the df count / filter / ordered string_agg reassembly
    "q_boilerplate" -> Gate(qBoilerplate _,
      "WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "s AS (SELECT doc_id, w, greatest(CAST(ceil((len(w) - 8)::DOUBLE / 8) AS INT), 0) AS last FROM w), " +
        "c AS (SELECT doc_id, CAST(t.i AS INT) AS chunk_idx, " +
        "w[CAST(t.i*8 + 1 AS INT):CAST(t.i*8 + 8 AS INT)] AS toks " +
        "FROM s, unnest(range(0, s.last + 1)) AS t(i)), " +
        "cc AS (SELECT doc_id, chunk_idx, array_to_string(toks, ' ') AS ct " +
        "FROM c WHERE len(toks) > 0), " +
        "f AS (SELECT ct, count(DISTINCT doc_id) AS df FROM cc GROUP BY 1), " +
        "k AS (SELECT cc.doc_id, cc.chunk_idx, cc.ct FROM cc " +
        "JOIN f USING (ct) WHERE f.df < 2), " +
        "n AS (SELECT doc_id, count(*)::BIGINT AS n_chunks FROM cc GROUP BY 1), " +
        "ka AS (SELECT doc_id, count(*)::BIGINT AS n_kept, " +
        "string_agg(ct, ' ' ORDER BY chunk_idx) AS clean_text FROM k GROUP BY 1) " +
        "SELECT d.doc_id, coalesce(ka.clean_text, '') AS clean_text, " +
        "coalesce(n.n_chunks, 0)::BIGINT AS n_chunks, " +
        "(coalesce(n.n_chunks, 0) - coalesce(ka.n_kept, 0))::BIGINT AS n_removed, " +
        "CASE WHEN n.n_chunks > 0 THEN " +
        O.r6("(n.n_chunks - coalesce(ka.n_kept, 0))::DOUBLE / n.n_chunks::DOUBLE") +
        " ELSE 0.0 END AS removed_frac " +
        "FROM documents d LEFT JOIN n USING (doc_id) LEFT JOIN ka USING (doc_id) " +
        "ORDER BY doc_id"),
    "q_redact" -> Gate(qRedact _,
      s"SELECT doc_id, $redactSql AS text_redacted, " +
        s"len(regexp_extract_all($redactSql, '<(EMAIL|SSN|PHONE|IP)>'))::INT " +
        "AS n_redactions FROM documents ORDER BY doc_id"),
    "q_surprisal" -> Gate(qSurprisal _, surprisalSelect + " ORDER BY doc_id"),
    "q_bpe" -> Gate(qBpe _, Bpe.oracleSql(6)),
    "q_bpe_encode" -> Gate(qBpeEncode _, Bpe.encodeOracleSql(6)),
    // Relational mirror of the engine's per-row fold: n-gram counts via
    // unnest+group-by; every fraction is one IEEE division of exact
    // integers, so values (and the keep comparisons) match bit-exactly.
    "q_repetition" -> Gate(qRepetition _, PrepQueries.repetitionSelect + " ORDER BY doc_id"),
    // Step-for-step mirror of TextPrep.canonicalUrl: anchored regexes
    // in the java.util.regex ∩ RE2 subset, list_filter/list_sort for
    // the param set — binary string order both engines.
    "q_url_canon" -> Gate(qUrlCanon _,
      s"WITH u AS (SELECT * FROM ($urlFixtureSql) AS t(id, url)), " +
        "s1 AS (SELECT id, lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme, " +
        "regexp_replace(regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$', '') AS nofrag FROM u), " +
        "s2 AS (SELECT id, scheme, regexp_extract(nofrag, '^([^/?]*)', 1) AS auth, " +
        "substr(nofrag, length(regexp_extract(nofrag, '^([^/?]*)', 1)) + 1) AS afterauth FROM s1), " +
        "s3 AS (SELECT id, scheme, " +
        "regexp_replace(CASE WHEN scheme = 'http' THEN regexp_replace(lower(auth), ':80$', '') " +
        "WHEN scheme = 'https' THEN regexp_replace(lower(auth), ':443$', '') " +
        "ELSE lower(auth) END, '^www\\.', '') AS host, " +
        "regexp_extract(afterauth, '^([^?]*)', 1) AS path, " +
        "regexp_replace(afterauth, '^[^?]*\\??', '') AS query FROM s2), " +
        "s4 AS (SELECT id, scheme, host, " +
        "CASE WHEN regexp_replace(path, '/+$', '') = '' THEN '/' " +
        "ELSE regexp_replace(path, '/+$', '') END AS cpath, " +
        // coalesce: DuckDB's array_to_string of an EMPTY list is NULL
        // (Spark's array_join is ''), and the NULL would swallow the
        // whole concatenation
        "coalesce(array_to_string(list_sort(list_filter(string_split(query, '&'), " +
        s"p -> p <> '' AND NOT regexp_matches(p, '${TextPrep.TrackingParamPattern}'))), '&'), '') AS cquery " +
        "FROM s3), " +
        "c AS (SELECT id, scheme || '://' || host || cpath || " +
        "(CASE WHEN cquery = '' THEN '' ELSE '?' || cquery END) AS canon_url FROM s4) " +
        "SELECT id, canon_url, count(*) OVER (PARTITION BY canon_url) AS n_dupes " +
        "FROM c ORDER BY id"),
    "q_zipf" -> Gate(qZipf _,
      "WITH w AS (SELECT source, string_split(text, ' ') AS w FROM documents), " +
        "tok AS (SELECT source AS grp, t.t AS t FROM w, unnest(w.w) AS t(t) WHERE len(t.t) > 0), " +
        "c AS (SELECT grp, t, count(*) AS c FROM tok GROUP BY 1, 2), " +
        "r AS (SELECT grp, c, t, row_number() OVER (PARTITION BY grp ORDER BY c DESC, t ASC) AS rank FROM c), " +
        "p AS (SELECT grp, " + O.r6("ln(rank::DOUBLE)") + " AS x, " +
        O.r6("ln(c::DOUBLE)") + " AS y FROM r WHERE rank <= 40), " +
        "m AS (SELECT grp, count(*) AS k, " +
        "CAST(CAST(sum(CAST(x AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS sx, " +
        "CAST(CAST(sum(CAST(y AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS sy, " +
        "CAST(CAST(sum(CAST(" + O.r6("x*y") + " AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS sxy, " +
        "CAST(CAST(sum(CAST(" + O.r6("x*x") + " AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS sxx " +
        "FROM p GROUP BY grp) " +
        "SELECT grp AS source, k, " +
        O.r6("(k*sxy - sx*sy) / (k*sxx - sx*sx)") + " AS slope, " +
        O.r6("(sy - (k*sxy - sx*sy) / (k*sxx - sx*sx) * sx) / k") + " AS intercept " +
        "FROM m ORDER BY source"),
    // oracle spells the SEMANTICS (exact match or ends-with at a label
    // boundary) via EXISTS + LIKE — the engine's suffix-explode
    // equi-join must agree row-for-row
    "q_blocklist" -> Gate(qBlocklist _,
      s"WITH u AS (SELECT * FROM ($urlFixtureSql) AS t(id, url)), " +
        "bl AS (SELECT * FROM (VALUES " +
        Blocklist.map(d => s"('$d')").mkString(", ") + ") AS b(domain)), " +
        "h AS (SELECT id, regexp_replace(regexp_replace(lower(regexp_extract(" +
        "regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^([^/?#]*)', 1)), " +
        "':[0-9]+$', ''), '^www\\.', '') AS host FROM u) " +
        "SELECT id, host, EXISTS (SELECT 1 FROM bl WHERE bl.domain = h.host " +
        "OR h.host LIKE '%.' || bl.domain) AS blocked FROM h ORDER BY id"),
    // DuckDB's utf8proc nfc_normalize/strip_accents implement the same
    // UCD algorithms as java.text.Normalizer — fully specified, no
    // engine freedom, so the strings hash-check exactly
    "q_normalize" -> Gate(qNormalize _,
      s"WITH u AS (SELECT * FROM ($normFixtureSql) AS t(id, text)) " +
        "SELECT id, nfc_normalize(text) AS nfc_text, " +
        "strip_accents(text) AS folded_text, " +
        "count(*) OVER (PARTITION BY nfc_normalize(text)) AS n_dupes " +
        "FROM u ORDER BY id"),
  )

  /** The fixture as a DuckDB VALUES list — one spelling, both engines. */
  private def urlFixtureSql: String =
    UrlFixture.map { case (i, u) => s"($i, '$u')" }.mkString("VALUES ", ", ", "")

  /** A string as a DuckDB expression with every non-ASCII code point
    * spliced as chr(N) — the fixture reaches DuckDB as provably the
    * same code-point sequence the Spark side holds, immune to any
    * encoding normalization between here and there.
    */
  private def sqlText(s: String): String = {
    val parts = scala.collection.mutable.ListBuffer.empty[String]
    val ascii = new StringBuilder
    def flush(): Unit = if (ascii.nonEmpty) {
      parts += "'" + ascii.result().replace("'", "''") + "'"
      ascii.clear()
    }
    s.codePoints().forEach { cp =>
      if (cp < 128) ascii.append(cp.toChar)
      else { flush(); parts += s"chr($cp)" }
    }
    flush()
    if (parts.isEmpty) "''" else parts.mkString(" || ")
  }

  private def normFixtureSql: String =
    NormFixture.map { case (i, t) => s"($i, ${sqlText(t)})" }
      .mkString("VALUES ", ", ", "")

  /** Bigram-surprisal oracle body (no ORDER BY) — shared with the
    * perplexity-band gate (SelectionQueries q_ppl_band), which consumes
    * it as a nested-WITH subquery. A `def` for the same object-init
    * reason as [[repetitionSelect]].
    */
  private[queries] def surprisalSelect: String =
    "WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
      "p AS (SELECT doc_id, w[CAST(t.i + 1 AS INT)] AS w1, w[CAST(t.i + 2 AS INT)] AS w2 " +
      "FROM w, unnest(range(0, greatest(len(w.w) - 1, 0))) AS t(i)), " +
      "bc AS (SELECT w1, w2, count(*) AS c12 FROM p GROUP BY 1, 2), " +
      "uc AS (SELECT w1, count(*) AS c1 FROM p GROUP BY 1), " +
      "v AS (SELECT count(DISTINCT w2) AS v FROM p), " +
      "sc AS (SELECT w1, w2, " + O.r6("-ln((c12 + 1.0) / (c1 + v))") + " AS nlp " +
      "FROM bc JOIN uc USING (w1) CROSS JOIN v) " +
      "SELECT doc_id, count(*) AS n_bigrams, " +
      O.r6("CAST(CAST(sum(CAST(nlp AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) / count(*)") +
      " AS mean_surprisal " +
      "FROM p JOIN sc USING (w1, w2) GROUP BY doc_id"

  /** Repetition-metrics oracle body (no ORDER BY) — shared with the
    * composed curation pipeline oracle (CorpusQueries q_pipeline). A
    * `def`, not a `val`: `gates` above references it during object
    * init, and a val defined below would still be null at that point.
    */
  private[queries] def repetitionSelect: String =
    "WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
      "tok AS (SELECT doc_id, len(w)::INT AS n_tokens, " +
      "len(list_distinct(w))::INT AS n_distinct FROM w), " +
      "b AS (SELECT doc_id, w[CAST(t.i+1 AS INT)] || ' ' || w[CAST(t.i+2 AS INT)] AS g " +
      "FROM w, unnest(range(0, greatest(len(w.w)-1, 0))) AS t(i)), " +
      "bc AS (SELECT doc_id, g, count(*) AS n FROM b GROUP BY 1, 2), " +
      "bs AS (SELECT doc_id, max(n) AS top_n FROM bc GROUP BY 1), " +
      "t3 AS (SELECT doc_id, w[CAST(t.i+1 AS INT)] || ' ' || w[CAST(t.i+2 AS INT)] " +
      "|| ' ' || w[CAST(t.i+3 AS INT)] AS g " +
      "FROM w, unnest(range(0, greatest(len(w.w)-2, 0))) AS t(i)), " +
      "tc AS (SELECT doc_id, g, count(*) AS n FROM t3 GROUP BY 1, 2), " +
      "ts AS (SELECT doc_id, coalesce(sum(n) FILTER (n > 1), 0) AS dup_n FROM tc GROUP BY 1), " +
      "m AS (SELECT doc_id, n_tokens, " +
      "CASE WHEN n_tokens > 0 THEN (n_tokens - n_distinct) / n_tokens ELSE 0.0 END AS dup_token_frac, " +
      "CASE WHEN n_tokens - 1 > 0 THEN coalesce(top_n, 0) / (n_tokens - 1) ELSE 0.0 END AS top_bigram_frac, " +
      "CASE WHEN n_tokens - 2 > 0 THEN coalesce(dup_n, 0) / (n_tokens - 2) ELSE 0.0 END AS dup_trigram_frac " +
      "FROM tok LEFT JOIN bs USING (doc_id) LEFT JOIN ts USING (doc_id)) " +
      "SELECT doc_id, n_tokens, dup_token_frac, top_bigram_frac, dup_trigram_frac, " +
      "(CASE WHEN dup_token_frac < 0.6 AND top_bigram_frac < 0.08 " +
      "AND dup_trigram_frac < 0.05 THEN 1 ELSE 0 END)::INT AS keep " +
      "FROM m"
}
