package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair encoding) vocabulary learning — the
  * tokenizer-training half of an LLM data pipeline (Sennrich et al.
  * 2016): start from characters, repeatedly count adjacent symbol pairs
  * over the word vocabulary and merge the most frequent one.
  *
  * Scale shape: classic BPE operates on the WORD VOCABULARY with
  * occurrence counts, not the corpus — one corpus-sized aggregate up
  * front (uniform word keys, cached), then every iteration touches only
  * the vocabulary frame: a narrow pair-explode, one vocabulary-bounded
  * aggregate, and a 1-row TakeOrdered winner collected to the driver
  * (the k-means-centroid pattern — BPE is inherently sequential, so the
  * per-step driver round-trip of one 3-field row is the floor, not an
  * anti-pattern). The winner is applied as a LITERAL string `replace`
  * projection, so consecutive steps are plain nested projections that
  * CollapseProject fuses — no per-step join, no broadcast, no
  * checkpoint machinery, and plan size linear in nMerges (the round-5
  * broadcast-join + lazy-localCheckpoint formulation re-referenced the
  * previous vocab twice per step — 2^n plan growth without truncation —
  * and its leaked block-manager state made the query's cost depend on
  * what ran before it in the same JVM). Nothing after the first
  * group-by is proportional to corpus bytes, which is what makes
  * learning a vocab on 100 TB feasible.
  *
  * Determinism & the cross-engine oracle: words are encoded as
  * separator-wrapped symbol strings (`tok` → `_t__o__k_`), so applying
  * a merge is ONE plain-string `replace("_a__b_" → "_ab_")` — string
  * replace scans left-to-right non-overlapping in both Spark and
  * DuckDB, which IS greedy BPE application, with no regex (and no
  * RE2-vs-Java lookahead differences) involved. Pair counts are exact
  * integer sums; the winner tie-breaks lexicographically. The gate
  * oracle is a GENERATED unrolled-CTE DuckDB program for the same
  * nMerges (the k-means/PageRank pattern).
  *
  * Tokens are restricted to `^[a-z0-9]+$` so the `_` separator cannot
  * collide with token content (documented gate contract; a production
  * caller picks any separator outside its alphabet).
  */
object Bpe {

  /** Learn `nMerges` merges; returns (step, sym_a, sym_b, merged,
    * pair_count) — the ordered merge table, i.e. the tokenizer
    * artifact itself.
    */
  def learnMerges(
      docs: DataFrame,
      textCol: String,
      nMerges: Int): DataFrame = {
    val (merges, _, vocab0) = run(docs, textCol, nMerges)
    vocab0.unpersist() // merge table is driver-local; nothing lazy remains
    merges
  }

  /** Tokenize with the learned vocabulary: per-document whitespace-word
    * count, character count, and the REAL post-merge BPE token count
    * (each word contributes its final symbol count), plus chars/token
    * as the compression ratio — the fertility statistic every
    * tokenizer evaluation reports. Scale shape: the learned per-word
    * symbol counts are vocabulary-sized; the doc-side join is one
    * hash equi-join on the word (broadcast when the vocab allows).
    */
  def encodedCounts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nMerges: Int): DataFrame = {
    // the returned frame joins through the final vocab, so the cached
    // corpus aggregate stays alive behind it (vocabulary-sized; evicted
    // LRU like any cache)
    val vocab = run(docs, textCol, nMerges)._2
    val wordSyms = vocab.select(col("w"),
      size(split(expr("substring(enc, 2, length(enc) - 2)"), "__")).as("nsym"))
    docs.select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+$"))
      .join(wordSyms, "w")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w"))).as("n_chars"),
        sum("nsym").as("n_bpe"))
      .withColumn("chars_per_token",
        graft.queries.Det.r6(col("n_chars") / col("n_bpe")))
  }

  /** The shared iteration: returns (merge table (driver-local rows),
    * final vocab state (w, enc, cnt), cached initial vocab for the
    * caller to unpersist when nothing lazy depends on it). Eager: the
    * merges are learned when this is called, one vocabulary-scale job
    * plus one 1-row collect per step.
    */
  private def run(
      docs: DataFrame,
      textCol: String,
      nMerges: Int): (DataFrame, DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab0 = docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+$"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(col("w"),
        concat(lit("_"),
          concat_ws("__", regexp_extract_all(col("w"), lit("."), lit(0))),
          lit("_")).as("enc"),
        col("cnt"))
      .cache() // re-read once per merge step (SCALE.md §10b: cache the
               // expensively-derived loop input, not the raw scan)
    var vocab = vocab0
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      val syms = split(expr("substring(enc, 2, length(enc) - 2)"), "__")
      // arrays_zip, not zip_with(struct): the lambda form is
      // CodegenFallback and ran this per-round Generate interpreted
      // (the bigramSurprisal r15 finding; same adjacent-pair shape)
      val best = vocab
        .select(col("cnt"),
          explode(arrays_zip(
            slice(syms, lit(1), greatest(size(syms) - 1, lit(0))),
            slice(syms, lit(2), greatest(size(syms) - 1, lit(0))))).as("p"))
        .groupBy(col("p.0").as("a"), col("p.1").as("b"))
        .agg(sum("cnt").as("pc"))
        .orderBy(col("pc").desc, col("a"), col("b"))
        .take(1)
      if (best.isEmpty) {
        // no adjacent pairs left (nMerges exceeds the available merges):
        // later steps would be identically empty — "return the merges
        // learned so far", vocab unchanged
        exhausted = true
      } else {
        val (a, b, pc) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((step, a, b, a + b, pc))
        vocab = vocab.withColumn("enc",
          replace(col("enc"), lit(s"_${a}__${b}_"), lit(s"_${a}${b}_")))
        step += 1
      }
    }
    val mergeDf = merges.result()
      .toDF("step", "sym_a", "sym_b", "merged", "pair_count")
    (mergeDf, vocab, vocab0)
  }

  /** Shared CTE chain v0..vN (w carried through for the encode oracle). */
  private def chainSql(nMerges: Int): String = {
    val init =
      "v0 AS (SELECT w, '_' || array_to_string(regexp_extract_all(w, '.'), '__') || '_' AS enc, cnt " +
        "FROM (SELECT w, count(*) AS cnt FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS w FROM documents) " +
        "WHERE regexp_matches(w, '^[a-z0-9]+$') GROUP BY w))"
    val steps = (1 to nMerges).map { i =>
      val prev = s"v${i - 1}"
      s"s$i AS (SELECT string_split(substr(enc, 2, length(enc) - 2), '__') AS s, cnt FROM $prev), " +
        s"p$i AS (SELECT s[CAST(t.i AS INT)] AS a, s[CAST(t.i + 1 AS INT)] AS b, sum(cnt)::BIGINT AS pc " +
        s"FROM s$i, unnest(range(1, len(s))) AS t(i) GROUP BY 1, 2), " +
        s"b$i AS (SELECT a, b, pc FROM p$i ORDER BY pc DESC, a, b LIMIT 1), " +
        s"v$i AS (SELECT w, replace(enc, '_' || a || '__' || b || '_', " +
        s"'_' || a || b || '_') AS enc, cnt FROM $prev, b$i)"
    }
    s"$init, ${steps.mkString(", ")}"
  }

  /** Generated DuckDB oracle for [[learnMerges]] over `documents.text`
    * — same init, same per-step pair counts / tie-break / replace,
    * unrolled as CTEs.
    */
  def oracleSql(nMerges: Int): String = {
    val out = (1 to nMerges).map { i =>
      s"SELECT $i AS step, a AS sym_a, b AS sym_b, a || b AS merged, pc AS pair_count FROM b$i"
    }.mkString(" UNION ALL ")
    s"WITH ${chainSql(nMerges)} $out ORDER BY step"
  }

  /** Generated DuckDB oracle for [[encodedCounts]]. */
  def encodeOracleSql(nMerges: Int): String =
    s"WITH ${chainSql(nMerges)}, " +
      s"ws AS (SELECT w, len(string_split(substr(enc, 2, length(enc) - 2), '__'))::INT AS nsym FROM v$nMerges), " +
      "dw AS (SELECT doc_id, u.w AS w FROM " +
      "(SELECT doc_id, string_split(text, ' ') AS ww FROM documents) d, " +
      "unnest(d.ww) AS u(w) WHERE regexp_matches(u.w, '^[a-z0-9]+$')) " +
      "SELECT doc_id, count(*) AS n_words, sum(length(w))::BIGINT AS n_chars, " +
      "sum(nsym)::BIGINT AS n_bpe, " +
      graft.queries.Oracle.r6("sum(length(w))::DOUBLE / sum(nsym)") +
      " AS chars_per_token " +
      "FROM dw JOIN ws USING (w) GROUP BY doc_id ORDER BY doc_id"
}
