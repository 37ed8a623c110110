package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Corpus, Profile, Quantization}
import graft.sources.Tables

/** Gate queries for the corpus-assembly operators ([[graft.ops.Corpus]]):
  * deterministic hash split, stratified sampling, epoch-weighted source
  * mixing, concat-and-chunk sequence packing, inverted index. All
  * hash-checked against DuckDB — the operators are hash-deterministic by
  * construction (md5 bucketing), unlike their RNG cousins
  * `randomSplit`/`sampleBy` (q_split / q_sample, rows-only per SURVEY.md
  * §5.3).
  *
  * Rate/weight literals are chosen binary-exact (.0 / .25 / .5 / .75) so
  * `rate * buckets` hits an integer identically in both engines — Spark
  * casts double→long by truncation, DuckDB by rounding, so a
  * 2999.9999999… threshold would silently disagree.
  */
object CorpusQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "documents")

  /** DuckDB spelling of [[Corpus.hashBucket]]. */
  private def bucketSql(salt: String, id: String, buckets: Int = 10000): String =
    s"(('0x' || substr(md5('$salt' || $id::VARCHAR), 1, 8))::BIGINT % $buckets)"

  def qSplitHash(s: SparkSession, dir: String): DataFrame =
    Corpus.hashSplit(docs(s, dir), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy("split")
      .agg(count(lit(1)).as("n"), min("doc_id").as("min_id"),
        max("doc_id").as("max_id"), sum("n_chars").as("sum_chars"))
      .orderBy("split")

  /** The composed curation pipeline ([[Corpus.curate]]): repetition
    * quality gate → language gate → exact-dedup survivors → hash split,
    * one row per surviving doc — hash-checked END TO END by composing
    * the individual operators' oracle fragments, proving the pieces
    * agree not just alone but chained.
    */
  def qPipeline(s: SparkSession, dir: String): DataFrame =
    Corpus.curate(docs(s, dir), "doc_id", "text").orderBy("doc_id")

  def qSampleStrat(s: SparkSession, dir: String): DataFrame =
    Corpus.stratifiedSample(docs(s, dir), "lang", "doc_id",
        Map("en" -> 0.25, "zh" -> 1.0), defaultRate = 0.75)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), min("doc_id").as("min_id"),
        max("doc_id").as("max_id"), sum("n_chars").as("sum_chars"))
      .orderBy("lang")

  def qMix(s: SparkSession, dir: String): DataFrame =
    Corpus.mix(docs(s, dir), "source", "doc_id",
        Map("src0" -> 2.5, "src1" -> 0.5, "src2" -> 0.0))
      .groupBy("source")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum("copy_idx").as("sum_copy_idx"))
      .orderBy("source")

  def qPack(s: SparkSession, dir: String): DataFrame =
    Corpus.packChunked(
        docs(s, dir).withColumn("n_tokens", size(split(col("text"), " "))),
        "doc_id", "n_tokens", capacity = 128)
      .select("doc_id", "n_tokens", "pack_id", "begin_offset")
      .orderBy("doc_id")

  def qSampleK(s: SparkSession, dir: String): DataFrame =
    Corpus.sampleK(docs(s, dir), "doc_id", k = 100)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  /** Per-source quota ([[Corpus.sourceQuota]]): top-15 docs per source
    * by length — the "max N docs per domain" curation rule, computed
    * with the cap-bounded heap aggregator (never the skew-prone window)
    * and hash-checked against DuckDB's row_number spelling, proving the
    * two agree row-for-row including tie-breaks.
    */
  def qSourceQuota(s: SparkSession, dir: String): DataFrame =
    Corpus.sourceQuota(docs(s, dir), "source", "doc_id", "n_chars", cap = 15)
      .select(col("source"), col("doc_id"),
        col("n_chars").cast("long").as("n_chars"), col("rank"))
      .orderBy("source", "rank")

  /** Leakage-safe split: [[Corpus.hashSplit]] keyed on `source` instead
    * of the row id, so every document of a source lands in the same
    * split — near-duplicates within a site can never straddle
    * train/test. `n_sources` per split is the witness (sums to the
    * global source count ⇒ no source spans two splits).
    */
  def qSplitGroup(s: SparkSession, dir: String): DataFrame =
    Corpus.hashSplit(docs(s, dir), "source",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "gsplit")
      .groupBy("split")
      .agg(count(lit(1)).as("n"), countDistinct(col("source")).as("n_sources"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"))
      .orderBy("split")

  /** Int8 embedding quantization audit ([[Quantization.quantizeInt8]]):
    * per-vector affine params, an exact BIGINT checksum over all 64
    * codes, and the worst-element reconstruction error.
    */
  def qEmbedQuant(s: SparkSession, dir: String): DataFrame =
    Quantization.quantizeInt8(Tables.table(s, dir, "embeddings"),
        "vec_id", "embedding")
      .orderBy("vec_id")

  /** Weighted deterministic sample ([[Corpus.sampleWeighted]]): 100
    * docs drawn with probability scaling in n_chars — longer documents
    * preferentially kept, assignment hash-reproducible.
    */
  def qSampleWeighted(s: SparkSession, dir: String): DataFrame =
    Corpus.sampleWeighted(docs(s, dir), "doc_id", "n_chars", k = 100)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  def qProfile(s: SparkSession, dir: String): DataFrame =
    Profile.numeric(Tables.table(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
      .orderBy("column")

  /** The postings array is emitted as a comma-joined string: the
    * driver's comparator can't hash array cells, and integer doc-ids
    * stringify identically on both engines.
    */
  def qInverted(s: SparkSession, dir: String): DataFrame =
    Corpus.invertedIndex(docs(s, dir), "doc_id", "text",
        minDf = 200, maxPostings = 15)
      .select(col("token"), col("df"),
        concat_ws(",", transform(col("postings"), _.cast("string")))
          .as("postings"))
      .orderBy("token")

  /** Training-shard assignment ([[Corpus.shardForTraining]]): every
    * row's (shard, pos) hash-checked — the full deterministic global
    * shuffle + cut, not just summary counts.
    */
  def qShards(s: SparkSession, dir: String): DataFrame =
    Corpus.shardForTraining(docs(s, dir), "doc_id", nShards = 8)
      .select("doc_id", "shard", "pos")
      .orderBy("doc_id")

  /** Contrastive-training negatives: 5 per doc from a 64-doc pool,
    * other-source only. The oracle spells pool draw, exclusion, and
    * per-anchor hash ranking, so the whole draw is cross-engine exact.
    */
  def qNegSample(s: SparkSession, dir: String): DataFrame =
    Corpus.negativeSample(docs(s, dir), "doc_id", "source", k = 5,
        poolSize = 64)
      .orderBy("doc_id", "neg_rank")

  /** Token-budget corpus cut at 15k of the corpus's ~27k tokens: the
    * distributed-prefix-sum operator must produce the identical
    * hash-ordered prefix (and identical running totals) as the oracle's
    * single global cumulative window.
    */
  def qTokenBudget(s: SparkSession, dir: String): DataFrame =
    Corpus.tokenBudget(
      docs(s, dir).select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok")),
      "doc_id", "n_tok", budget = 15000)
      .orderBy("doc_id")

  /** Pairwise source shingle-overlap audit
    * ([[Corpus.sourceOverlap]]): exact 3-gram Jaccard between every
    * source pair that shares at least one shingle.
    */
  def qOverlap(s: SparkSession, dir: String): DataFrame =
    Corpus.sourceOverlap(docs(s, dir), "source", "text", n = 3)
      .orderBy("src_a", "src_b")

  /** The sketch overlap estimator next to its exact answer
    * ([[Corpus.sourceOverlapSketch]]): the estimate is md5-deterministic
    * so it hash-checks EXACTLY cross-engine, and the oracle pins
    * `within_band` to literal true — if sketch quality ever drifts past
    * 3σ (k=64 → band 0.2), the gate hash-fails instead of the
    * degradation hiding behind a rows-only check (the q_vocab_sketch
    * discipline).
    */
  def qOverlapSketch(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val exact = Corpus.sourceOverlap(d, "source", "text", n = 3)
    val est = Corpus.sourceOverlapSketch(d, "source", "text", n = 3,
      numHashes = 64)
    exact.join(est, Seq("src_a", "src_b"))
      .select(col("src_a"), col("src_b"), col("jaccard"), col("est_jaccard"),
        (abs(col("est_jaccard") - col("jaccard")) <= 0.2).as("within_band"))
      .orderBy("src_a", "src_b")
  }

  val gates: Map[String, Gate] = Gate.registry(
    // same shingle construction as the dedup family's oracles: distinct
    // (source, 3-gram) pairs, then a shingle-keyed pair join (< keeps
    // each pair once) and exact set algebra; jaccard is one IEEE
    // division of exact BIGINTs, r6'd like every cross-engine double
    "q_overlap" -> Gate(qOverlap _,
      s"WITH $overlapCtes " +
        "SELECT src_a, src_b, n_inter, n_a, n_b, jaccard FROM ex " +
        "ORDER BY src_a, src_b"),
    // sketch next to exact: the same md5 permutation family as the
    // per-doc minhash oracle, min over each source's whole shingle set;
    // within_band is LITERAL true — sketch drift hash-fails the gate
    "q_overlap_sketch" -> Gate(qOverlapSketch _,
      s"WITH $overlapCtes, " +
        "sig AS (SELECT src, CAST(t.i AS INT) AS i, " +
        "min(md5(shingle || '#' || t.i)) AS h " +
        "FROM g, range(0, 64) AS t(i) GROUP BY 1, 2), " +
        "est AS (SELECT sa.src AS src_a, sb.src AS src_b, " +
        graft.queries.Oracle.r6(
          "sum(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END)::DOUBLE / 64") +
        " AS est_jaccard " +
        "FROM sig sa JOIN sig sb ON sa.i = sb.i AND sa.src < sb.src " +
        "GROUP BY 1, 2) " +
        "SELECT src_a, src_b, jaccard, est_jaccard, true AS within_band " +
        "FROM ex JOIN est USING (src_a, src_b) ORDER BY src_a, src_b"),
    "q_token_budget" -> Gate(qTokenBudget _,
      "WITH base AS (SELECT doc_id, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents), " +
        "t AS (SELECT doc_id, n_tok, CAST(sum(n_tok) OVER " +
        "(ORDER BY md5('budget' || doc_id::VARCHAR), doc_id) AS BIGINT) AS cum_tokens " +
        "FROM base) " +
        "SELECT doc_id, n_tok, cum_tokens FROM t WHERE cum_tokens <= 15000 " +
        "ORDER BY doc_id"),
    "q_neg_sample" -> Gate(qNegSample _,
      "WITH pool AS (SELECT doc_id AS neg_id, source AS _ng FROM documents " +
        "ORDER BY md5('negs_pool' || doc_id::VARCHAR) LIMIT 64), " +
        "r AS (SELECT d.doc_id, neg_id, " +
        "md5('negs' || d.doc_id::VARCHAR || '_' || neg_id::VARCHAR) AS _r " +
        "FROM documents d JOIN pool ON d.source != pool._ng), " +
        "k AS (SELECT doc_id, neg_id, row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY _r, neg_id)::INT AS neg_rank FROM r) " +
        "SELECT doc_id, neg_id, neg_rank FROM k WHERE neg_rank <= 5 " +
        "ORDER BY doc_id, neg_rank"),
    "q_shards" -> Gate(qShards _,
      "WITH h AS (SELECT doc_id, md5('shard' || doc_id::VARCHAR) AS ord " +
        "FROM documents), " +
        "s AS (SELECT doc_id, ord, " +
        "(('0x' || substr(ord, 1, 8))::BIGINT % 8)::INT AS shard FROM h) " +
        "SELECT doc_id, shard, row_number() OVER " +
        "(PARTITION BY shard ORDER BY ord, doc_id)::INT AS pos " +
        "FROM s ORDER BY doc_id"),
    // the composed pipeline: each stage reuses the fragment its
    // standalone gate query is checked with (repetition metrics,
    // lang-ID argmax, word-set dedup key, hash-split thresholds)
    "q_pipeline" -> Gate(qPipeline _,
      s"WITH rep AS (${PrepQueries.repetitionSelect}), " +
        s"lang AS (SELECT doc_id, ${ExtQueries.langPredSql} AS lang_pred FROM documents), " +
        "ky AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(" +
        "string_split(text, ' '))), ' ')) AS k FROM documents), " +
        "kept AS (SELECT rep.doc_id, rep.n_tokens, ky.k FROM rep " +
        "JOIN lang USING (doc_id) JOIN ky USING (doc_id) " +
        "WHERE rep.keep = 1 AND lang.lang_pred = 'en'), " +
        "surv AS (SELECT k, min(doc_id) AS doc_id FROM kept GROUP BY k), " +
        "sv AS (SELECT kept.doc_id, kept.n_tokens FROM surv " +
        "JOIN kept ON kept.doc_id = surv.doc_id), " +
        s"b AS (SELECT doc_id, n_tokens, ${bucketSql("split", "doc_id")} AS b FROM sv) " +
        "SELECT doc_id, n_tokens, CASE WHEN b < 8000 THEN 'train' " +
        "WHEN b < 9000 THEN 'val' ELSE 'test' END AS split " +
        "FROM b ORDER BY doc_id"),
    "q_split_hash" -> Gate(qSplitHash _,
      s"WITH b AS (SELECT doc_id, n_chars, ${bucketSql("split", "doc_id")} AS b " +
        "FROM documents), " +
        "s AS (SELECT doc_id, n_chars, CASE WHEN b < 8000 THEN 'train' " +
        "WHEN b < 9000 THEN 'val' ELSE 'test' END AS split FROM b) " +
        "SELECT split, count(*) AS n, min(doc_id) AS min_id, " +
        "max(doc_id) AS max_id, sum(n_chars)::BIGINT AS sum_chars " +
        "FROM s GROUP BY 1 ORDER BY 1"),
    "q_sample_strat" -> Gate(qSampleStrat _,
      s"WITH b AS (SELECT lang, doc_id, n_chars, ${bucketSql("strat", "doc_id")} AS b " +
        "FROM documents), " +
        "k AS (SELECT * FROM b WHERE b < (CASE lang WHEN 'en' THEN 2500 " +
        "WHEN 'zh' THEN 10000 ELSE 7500 END)) " +
        "SELECT lang, count(*) AS n, min(doc_id) AS min_id, " +
        "max(doc_id) AS max_id, sum(n_chars)::BIGINT AS sum_chars " +
        "FROM k GROUP BY 1 ORDER BY 1"),
    "q_mix" -> Gate(qMix _,
      s"WITH c AS (SELECT source, doc_id, w, ${bucketSql("mix", "doc_id")} AS b " +
        "FROM (SELECT source, doc_id, CASE source WHEN 'src0' THEN 2.5 " +
        "WHEN 'src1' THEN 0.5 WHEN 'src2' THEN 0.0 ELSE 1.0 END AS w " +
        "FROM documents)), " +
        "n AS (SELECT source, doc_id, (floor(w) + CASE WHEN " +
        "b < ((w - floor(w)) * 10000)::BIGINT THEN 1 ELSE 0 END)::BIGINT AS copies " +
        "FROM c), " +
        "e AS (SELECT source, doc_id, u.i AS copy_idx FROM n, " +
        "unnest(range(n.copies)) AS u(i)) " +
        "SELECT source, count(*) AS n_rows, count(DISTINCT doc_id) AS n_docs, " +
        "sum(copy_idx)::BIGINT AS sum_copy_idx FROM e GROUP BY 1 ORDER BY 1"),
    "q_pack" -> Gate(qPack _,
      "WITH t AS (SELECT doc_id, len(string_split(text, ' '))::INT AS n_tokens " +
        "FROM documents), " +
        "c AS (SELECT doc_id, n_tokens, coalesce(sum(n_tokens) OVER " +
        "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), " +
        "0)::BIGINT AS cb FROM t) " +
        "SELECT doc_id, n_tokens, cb // 128 AS pack_id, " +
        "(cb % 128)::INT AS begin_offset FROM c ORDER BY doc_id"),
    "q_sample_k" -> Gate(qSampleK _,
      "SELECT doc_id, lang, source, n_chars FROM " +
        "(SELECT * FROM documents ORDER BY md5('samplek' || doc_id::VARCHAR) " +
        "LIMIT 100) ORDER BY doc_id"),
    "q_sample_weighted" -> Gate(qSampleWeighted _,
      s"WITH b AS (SELECT *, ${bucketSql("wsample", "doc_id", 1 << 20)} AS b " +
        "FROM documents), " +
        "k AS (SELECT *, floor((-ln((b + 1.0) / 1048577.0) / n_chars::DOUBLE) " +
        "* 1e6 + 0.5) / 1e6 AS wk FROM b WHERE n_chars::DOUBLE > 0) " +
        "SELECT doc_id, lang, source, n_chars FROM " +
        "(SELECT * FROM k ORDER BY wk, doc_id LIMIT 100) ORDER BY doc_id"),
    "q_profile" -> Gate(qProfile _,
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map { c =>
        s"SELECT '$c' AS \"column\", count($c) AS n_nonnull, " +
          s"count(DISTINCT $c) AS n_distinct, min($c)::DOUBLE AS mn, " +
          s"max($c)::DOUBLE AS mx, quantile_disc($c, 0.25)::DOUBLE AS q1, " +
          s"quantile_disc($c, 0.5)::DOUBLE AS median, " +
          s"quantile_disc($c, 0.75)::DOUBLE AS q3 FROM lineitem"
      }.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY \"column\"")),
    "q_source_quota" -> Gate(qSourceQuota _,
      "WITH r AS (SELECT source, doc_id, n_chars, row_number() OVER " +
        "(PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rank " +
        "FROM documents) " +
        "SELECT source, doc_id, n_chars, rank FROM r WHERE rank <= 15 " +
        "ORDER BY source, rank"),
    "q_split_group" -> Gate(qSplitGroup _,
      s"WITH b AS (SELECT source, doc_id, ${bucketSql("gsplit", "source")} AS b " +
        "FROM documents), " +
        "s AS (SELECT doc_id, source, CASE WHEN b < 8000 THEN 'train' " +
        "WHEN b < 9000 THEN 'val' ELSE 'test' END AS split FROM b) " +
        "SELECT split, count(*) AS n, count(DISTINCT source) AS n_sources, " +
        "min(doc_id) AS min_id, max(doc_id) AS max_id " +
        "FROM s GROUP BY 1 ORDER BY 1"),
    "q_embed_quant" -> Gate(qEmbedQuant _,
      "WITH b AS (SELECT vec_id, embedding AS v, " +
        "list_min(embedding)::DOUBLE AS mn, list_max(embedding)::DOUBLE AS mx " +
        "FROM embeddings), " +
        "s AS (SELECT *, (mx - mn) / 255.0 AS sc FROM b), " +
        "c AS (SELECT vec_id, mn, mx, sc, v, CASE WHEN sc = 0 " +
        "THEN list_transform(v, x -> 0::BIGINT) " +
        "ELSE list_transform(v, x -> least(floor((x::DOUBLE - mn) / sc + 0.5), " +
        "255.0)::BIGINT) END AS codes FROM s) " +
        "SELECT vec_id, mn, mx, list_sum(codes)::BIGINT AS code_sum, " +
        "floor(list_max(list_transform(range(1, len(v) + 1), i -> " +
        "abs(mn + codes[i]::DOUBLE * sc - v[i]::DOUBLE))) * 1e6 + 0.5) / 1e6 " +
        "AS max_err FROM c ORDER BY vec_id"),
    "q_inverted" -> Gate(qInverted _,
      "WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "t AS (SELECT DISTINCT doc_id, u.t AS token FROM w, unnest(w.w) AS u(t) " +
        "WHERE length(u.t) > 0), " +
        "g AS (SELECT token, count(*) AS df, " +
        "(list(doc_id ORDER BY doc_id))[1:15] AS postings FROM t GROUP BY 1) " +
        "SELECT token, df, array_to_string(list_transform(postings, " +
        "x -> x::VARCHAR), ',') AS postings " +
        "FROM g WHERE df >= 200 ORDER BY token"),
  )

  /** Shared CTE chain for the overlap gates: distinct (source, shingle)
    * pairs, per-source set sizes, pairwise intersections, and the exact
    * r6'd Jaccard (CTE `ex`). A `def` for the object-init reason noted
    * on [[PrepQueries.repetitionSelect]].
    */
  private def overlapCtes: String =
    "w AS (SELECT source, string_split(text, ' ') AS w FROM documents), " +
      "g AS (SELECT DISTINCT source AS src, w[CAST(t.i+1 AS INT)] || ' ' || " +
      "w[CAST(t.i+2 AS INT)] || ' ' || w[CAST(t.i+3 AS INT)] AS shingle " +
      "FROM w, unnest(range(0, greatest(len(w.w) - 2, 0))) AS t(i)), " +
      "sz AS (SELECT src, count(*) AS n_set FROM g GROUP BY 1), " +
      "it AS (SELECT x.src AS src_a, y.src AS src_b, count(*) AS n_inter " +
      "FROM g x JOIN g y ON x.shingle = y.shingle AND x.src < y.src GROUP BY 1, 2), " +
      "ex AS (SELECT src_a, src_b, n_inter, a.n_set AS n_a, b.n_set AS n_b, " +
      graft.queries.Oracle.r6("n_inter::DOUBLE / (a.n_set + b.n_set - n_inter)") +
      " AS jaccard " +
      "FROM it JOIN sz a ON a.src = it.src_a JOIN sz b ON b.src = it.src_b)"
}
