package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Clustering, DataQuality, Dedup, Incremental, ProductQuantization, Profile, RuntimeFilters, SetSimJoin, TextAnalysis}
import graft.queries.Det._
import graft.queries.{Oracle => O}
import graft.sources.Tables

/** Gate queries for the round-3 scale operators: Bloom-filter runtime
  * join pruning, exact prefix-filter set-similarity join, and the
  * declarative data-quality audit. All hash-checked against DuckDB.
  */
object ScaleQueries {

  /** Bloom-pruned fact⋈dim join ([[RuntimeFilters.bloomJoin]]):
    * lineitem pruned by a sketch of the selectively-filtered part side,
    * then joined and aggregated. The oracle spells the PLAIN join — a
    * hash match proves the no-false-negative contract (pruning changed
    * the plan, not the result).
    */
  def qBloomJoin(s: SparkSession, dir: String): DataFrame = {
    val dim = Tables.table(s, dir, "part")
      .filter(col("p_size") <= 3)
      .select("p_partkey", "p_brand")
    RuntimeFilters.bloomJoin(
        Tables.table(s, dir, "lineitem"), dim, "l_partkey", "p_partkey",
        expectedItems = 100000L, numBits = 1L << 20)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
      .orderBy("p_brand")
  }

  /** Exact prefix-filtered Jaccard self-join
    * ([[SetSimJoin.jaccardSelfJoin]]) over 4-shingle sets. The oracle
    * is the BRUTE-FORCE all-pairs join, so a hash match proves exact
    * recall — the property the LSH family (q_dedup_near) explicitly
    * trades away.
    *
    * 4-shingles, not 3: prefix filtering's economy comes from RARE
    * index elements, and the synthetic corpus's 3-shingle space is
    * dense enough (avg df ≈ 10 at sf0.1) that prefixes collide into
    * ~1M candidates; 4-shingles (avg df ≈ 1.2) restore the sparsity a
    * real web corpus's shingles have, with the identical matched-pair
    * set at this threshold.
    */
  def qSimPrefix(s: SparkSession, dir: String): DataFrame =
    SetSimJoin.jaccardSelfJoin(
        Tables.table(s, dir, "documents"), "doc_id",
        TextAnalysis.shingles(TextAnalysis.tokens(col("text")), 4),
        threshold = 0.5)
      .withColumn("jac", r6(col("jac")))
      .orderBy("id_a", "id_b")

  /** Data-quality audit ([[DataQuality.audit]]) over lineitem: five
    * one-pass scalar constraints plus two referential (anti-join)
    * constraints. Two checks FAIL by design (l_orderkey is not unique
    * across lines; l_quantity exceeds 40) — the report's job is stating
    * violations, and the oracle hash-checks the failure rows too.
    */
  def qDq(s: SparkSession, dir: String): DataFrame = {
    import DataQuality._
    audit(Tables.table(s, dir, "lineitem"), Seq(
        Complete("l_quantity"),
        Unique("l_orderkey"),
        Bounds("l_discount", 0.0, 0.1),
        Bounds("l_quantity", 1.0, 40.0),
        Accepted("l_returnflag", Seq("A", "N", "R")),
        Custom("tax_le_discount_bound",
          col("l_tax") <= lit(0.08) || col("l_discount") <= lit(0.1)),
        Referential("l_partkey", Tables.table(s, dir, "part"), "p_partkey"),
        Referential("l_suppkey", Tables.table(s, dir, "supplier"), "s_suppkey")))
      .select(col("check"), r6(col("metric")).as("metric"),
        col("pass").cast("int").as("pass"))
      .orderBy("check")
  }

  /** Product-quantization ANN ([[ProductQuantization]]): codebooks
    * trained by subspace-keyed distributed Lloyd (m=8, k=16, 2
    * iterations), corpus encoded to 8 codes/vector, queries answered by
    * ADC — hash-checked against the generated unrolled-CTE oracle
    * replaying the identical computation (the k-means gate's discipline,
    * extended per subspace).
    */
  def qSimPq(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.table(s, dir, "embeddings")
    val cb = ProductQuantization.train(emb, "vec_id", "embedding",
      m = 8, k = 16, iters = 2)
    val codes = ProductQuantization.encode(emb, "vec_id", "embedding", cb, m = 8)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    ProductQuantization.topK(codes, cb, queries, m = 8, topK = 10)
      .withColumn("ad2", r6(col("ad2")))
      .orderBy("qid", "rank")
  }

  /** Compression-ratio quality signal ([[graft.functions.DeflateSize]]).
    * The exact deflate byte count is the JVM zlib's encoding choice —
    * RFC 1951 fixes the format, not the encoder — so it can never be
    * recomputed in DuckDB. What CAN be value-checked cross-engine
    * (round-6 upgrade from rows-only, VERDICT r5 item 6) is every
    * portable consequence of it, and that is what the gate emits:
    *   - `raw_bytes` — real value, independently computed by both
    *     engines (octet_length vs strlen);
    *   - `in_bounds` — deflate output within [1, raw + 5·⌈raw/16383⌉
    *     + 10], the stored-block worst case RFC 1951 guarantees for ANY
    *     conforming encoder (5-byte header per 16383-byte stored block);
    *   - `ratio_consistent` — the reported ratio is exactly
    *     r6(deflate/raw) with the empty-input convention of
    *     [[graft.functions.DeflateSize.compressionRatio]].
    * The oracle asserts the contract by construction (TRUE columns):
    * a driver hash match proves every document satisfied it in Spark.
    * Exact per-fixture byte values stay pinned in ScaleOpsSpec (the
    * within-engine regression guard, SURVEY §5.3).
    */
  def qCompress(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.DeflateSize
    val raw = col("raw_bytes")
    val dz = col("deflate_bytes")
    val worstCase = raw + lit(5) * floor(raw / lit(16383)).cast("long") + lit(15)
    Tables.table(s, dir, "documents")
      .select(col("doc_id"),
        octet_length(col("text")).cast("long").as("raw_bytes"),
        DeflateSize.deflateSize(col("text")).cast("long").as("deflate_bytes"),
        r6(DeflateSize.compressionRatio(col("text"))).as("ratio"))
      .select(col("doc_id"), raw,
        (dz >= lit(1) && dz <= worstCase).as("in_bounds"),
        (col("ratio") === r6(when(raw === 0, lit(1.0))
          .otherwise(dz.cast("double") / raw.cast("double"))))
          .as("ratio_consistent"))
      .orderBy("doc_id")
  }

  /** Semantic dedup ([[Dedup.semanticDupSurvivors]], the SemDeDup
    * recipe): k-means cells → within-cell cosine pairs → min-id
    * dominance survivors. The oracle replays the kmeans unrolled-CTE
    * chain and the same pair/anti logic, so cluster assignment, pair
    * generation, AND the keep rule are all hash-checked end to end.
    */
  def qSemDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.semanticDupSurvivors(
        Tables.table(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, iters = 2, threshold = 0.35)
      .orderBy("vec_id")

  /** Higher-order-function surface: the lambda family (`transform`,
    * `filter`, `exists`, `forall`, `aggregate`, `zip_with`) as a
    * first-class checked gate — integer-valued throughout, so the
    * cross-engine hash needs no float discipline. DuckDB spells the
    * same values through its list_* family.
    */
  def qHof(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val lens = transform(toks, t => length(t))
    Tables.table(s, dir, "documents").select(
      col("doc_id"),
      size(filter(toks, t => length(t) > 4)).cast("long").as("n_long"),
      aggregate(lens, lit(0L), (a, x) => a + x).as("total_chars"),
      exists(toks, _ === "spark").cast("int").as("has_spark"),
      forall(toks, t => length(t) > 0).cast("int").as("all_nonempty"),
      // palindromic length sum: zip each token length with its mirror —
      // exercises zip_with + reverse over the same lambda-bound array
      aggregate(zip_with(lens, reverse(lens), (a, b) => a + b),
        lit(0L), (a, x) => a + x).as("sym_sum"),
    ).orderBy("doc_id")
  }

  /** Incremental aggregation ([[Incremental]]): the events table split
    * into three "daily batches" (event_id mod 3), each reduced to
    * per-event-type partial state, states merged and finalized — the
    * oracle computes the DIRECT aggregate over everything, so a hash
    * match proves state decomposition + merge + finalize lose nothing
    * (incl. avg = merged-sum/merged-n, not an average of averages).
    */
  def qAggInc(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val batches = (0 to 2).map(i =>
      Incremental.partialState(
        ev.filter(col("event_id") % 3 === i), Seq("event_type"), "value"))
    Incremental.finalize(
        Incremental.mergeStates(batches, Seq("event_type")), Seq("event_type"))
      .orderBy("event_type")
  }

  /** Order-independent table checksum ([[Profile.tableChecksum]]) over
    * the events table's engine-stable columns (ids, strings, epoch
    * millis — no raw doubles, whose string forms differ by engine).
    * The oracle computes the identical md5-term sum in DuckDB: a match
    * proves the multiset fingerprint is engine- and order-independent —
    * the cross-environment equality primitive.
    *
    * The gate emits the DECIMAL(38,0) checksum as a STRING: the 22-digit
    * value exceeds int64/float-exact range, and the driver's value
    * hasher serializes wide decimals differently per engine (round-5
    * verdict: values bit-identical, hash red). Digits are the one
    * spelling both engines share.
    */
  def qChecksum(s: SparkSession, dir: String): DataFrame =
    Profile.tableChecksum(
      Tables.events(s, dir).select(
        col("event_id"), col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("ts_ms"), col("props")),
      Seq("event_id", "user_id", "event_type", "ts_ms", "props"))
      .withColumn("checksum", col("checksum").cast("string"))

  /** Partition-level manifest of the same fingerprint, keyed by event
    * day ([[Profile.partitionManifest]]): comparing two runs' manifests
    * names WHICH day partitions changed — the incremental pipeline's
    * skip-unchanged primitive. Checksum emitted as STRING for the same
    * driver-hash reason as [[qChecksum]].
    */
  def qChecksumParts(s: SparkSession, dir: String): DataFrame =
    Profile.partitionManifest(
      Tables.events(s, dir).select(
        to_date(col("ts")).cast("string").as("day"),
        col("event_id"), col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("ts_ms"), col("props")),
      "day",
      Seq("event_id", "user_id", "event_type", "ts_ms", "props"))
      .withColumn("checksum", col("checksum").cast("string"))
      .orderBy("day")

  /** IVF-PQ ANN ([[ProductQuantization.ivfPqTopK]]): coarse stride
    * cells prune to the queries' 2 nearest cells, PQ-ADC ranks the
    * survivors — the faiss-IVFPQ architecture, hash-checked end to end
    * via the composed generated oracle (kmeans-per-subspace chain +
    * cell restriction).
    */
  def qSimIvfPq(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.table(s, dir, "embeddings")
    val cb = ProductQuantization.train(emb, "vec_id", "embedding",
      m = 8, k = 16, iters = 2)
    val codes = ProductQuantization.encode(emb, "vec_id", "embedding", cb, m = 8)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    ProductQuantization.ivfPqTopK(emb, "vec_id", "embedding", codes, cb,
        queries, m = 8, topK = 10, stride = 64, nProbe = 2)
      .withColumn("ad2", r6(col("ad2")))
      .orderBy("qid", "rank")
  }

  val gates: Map[String, Gate] = Gate.registry(
    // the TRUE columns are the contract (see qCompress scaladoc): the
    // oracle independently computes raw_bytes and asserts the
    // deflate-derived flags hold for every doc; the byte count itself
    // is encoder freedom RFC 1951 leaves open and stays engine-local
    "q_compress" -> Gate(qCompress _,
      "SELECT doc_id, strlen(text)::BIGINT AS raw_bytes, " +
        "TRUE AS in_bounds, TRUE AS ratio_consistent " +
        "FROM documents ORDER BY doc_id"),
    // the kmeans CTE chain (assignment CTE `a`, double vectors `vecs`)
    // extends with the within-cluster pair scan and min-id dominance
    "q_semdedup" -> Gate(qSemDedup _, Clustering.kmeansOracleSql(8, 2,
      ", av AS (SELECT a.vec_id, a.cluster, v FROM a JOIN vecs USING (vec_id)), " +
        "p AS (SELECT x.vec_id AS ia, y.vec_id AS ib FROM av x JOIN av y " +
        "ON x.cluster = y.cluster AND x.vec_id < y.vec_id " +
        s"WHERE ${O.cos("x.v", "y.v")} >= 0.35) " +
        "SELECT vec_id, cluster FROM a " +
        "WHERE vec_id NOT IN (SELECT ib FROM p) ORDER BY vec_id")),
    "q_hof" -> Gate(qHof _,
      "WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "l AS (SELECT doc_id, w, list_transform(w, t -> length(t)) AS lens FROM w) " +
        "SELECT doc_id, " +
        "len(list_filter(w, t -> length(t) > 4))::BIGINT AS n_long, " +
        "coalesce(list_sum(lens), 0)::BIGINT AS total_chars, " +
        "(CASE WHEN list_contains(w, 'spark') THEN 1 ELSE 0 END) AS has_spark, " +
        "(CASE WHEN len(list_filter(w, t -> length(t) = 0)) = 0 THEN 1 ELSE 0 END) " +
        "AS all_nonempty, " +
        "coalesce(list_sum(list_transform(range(len(lens)), " +
        "i -> lens[i+1] + lens[len(lens)-i])), 0)::BIGINT AS sym_sum " +
        "FROM l ORDER BY doc_id"),
    "q_agg_inc" -> Gate(qAggInc _,
      "SELECT event_type, count(value) AS n, " +
        "CAST(CAST(sum(CAST(value AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS sum_v, " +
        "min(value) AS min_v, max(value) AS max_v, " +
        O.r6("CAST(CAST(sum(CAST(value AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) / count(value)") +
        " AS avg_v FROM events GROUP BY 1 ORDER BY 1"),
    "q_checksum_parts" -> Gate(qChecksumParts _,
      "WITH h AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, " +
        "('0x' || substr(md5(" +
        "coalesce(event_id::VARCHAR, '<null>') || '|' || " +
        "coalesce(user_id::VARCHAR, '<null>') || '|' || " +
        "coalesce(event_type, '<null>') || '|' || " +
        "coalesce(epoch_ms(ts)::VARCHAR, '<null>') || '|' || " +
        "coalesce(props, '<null>')), 1, 15))::BIGINT AS v FROM events) " +
        "SELECT day, count(*) AS n_rows, " +
        "coalesce(sum(v::DECIMAL(38,0)), 0::DECIMAL(38,0))::VARCHAR AS checksum " +
        "FROM h GROUP BY 1 ORDER BY 1"),
    "q_checksum" -> Gate(qChecksum _,
      "WITH h AS (SELECT ('0x' || substr(md5(" +
        "coalesce(event_id::VARCHAR, '<null>') || '|' || " +
        "coalesce(user_id::VARCHAR, '<null>') || '|' || " +
        "coalesce(event_type, '<null>') || '|' || " +
        "coalesce(epoch_ms(ts)::VARCHAR, '<null>') || '|' || " +
        "coalesce(props, '<null>')), 1, 15))::BIGINT AS v FROM events) " +
        "SELECT count(*) AS n_rows, " +
        "coalesce(sum(v::DECIMAL(38,0)), 0::DECIMAL(38,0))::VARCHAR AS checksum FROM h"),
    "q_sim_ivfpq" -> Gate(qSimIvfPq _, ProductQuantization.ivfPqOracleSql(
      m = 8, k = 16, iters = 2, nq = 5, topK = 10, stride = 64, nProbe = 2,
      "SELECT qid, cid, " + O.r6("ad2") + " AS ad2, rank FROM r " +
        "WHERE rank <= 10 ORDER BY qid, rank")),
    "q_sim_pq" -> Gate(qSimPq _, ProductQuantization.pqOracleSql(
      m = 8, k = 16, iters = 2, nq = 5, topK = 10,
      "SELECT qid, cid, " + O.r6("ad2") + " AS ad2, rank FROM r " +
        "WHERE rank <= 10 ORDER BY qid, rank")),
    "q_bloom_join" -> Gate(qBloomJoin _,
      "SELECT p_brand, count(*) AS n, " + O.dsum("l_quantity") + " AS sum_qty, " +
        O.dsum("l_extendedprice * (1.0 - l_discount)") + " AS revenue " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE p_size <= 3 GROUP BY 1 ORDER BY 1"),
    // inverted-index respelling (r12, VERDICT r11 task 2): the former
    // pairwise `s a JOIN s b ON a.doc_id < b.doc_id` was row×row at
    // sf1. Jaccard ≥ 0.5 > 0 implies a shared shingle, so the
    // candidate pairs come from a shingle equi-join (count = |a ∩ b|,
    // lists are distinct) and |a ∪ b| = n_a + n_b − inter — bounded by
    // Σ df², the same index shape the engine's prefix filter prunes.
    "q_sim_prefix" -> Gate(qSimPrefix _,
      "WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "s AS (SELECT doc_id, list_distinct(list_transform(" +
        "range(greatest(len(w) - 3, 0)), " +
        "j -> w[j+1] || ' ' || w[j+2] || ' ' || w[j+3] || ' ' || w[j+4])) AS sh " +
        "FROM w WHERE len(w) >= 4), " +
        "sz AS (SELECT doc_id, len(sh) AS n FROM s WHERE len(sh) > 0), " +
        "tok AS (SELECT doc_id, unnest(sh) AS t FROM s), " +
        "pc AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "count(*) AS inter FROM tok a JOIN tok b ON a.t = b.t " +
        "AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT id_a, id_b, " +
        O.r6("inter::DOUBLE / (na.n + nb.n - inter)::DOUBLE") + " AS jac " +
        "FROM pc JOIN sz na ON id_a = na.doc_id " +
        "JOIN sz nb ON id_b = nb.doc_id " +
        "WHERE inter::DOUBLE / (na.n + nb.n - inter)::DOUBLE >= 0.5 " +
        "ORDER BY id_a, id_b"),
    "q_dq" -> Gate(qDq _,
      "WITH m AS (" +
        "SELECT 'accepted:l_returnflag' AS \"check\", " +
        "sum(CASE WHEN l_returnflag IS NOT NULL AND " +
        "l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END)::DOUBLE AS metric " +
        "FROM lineitem " +
        "UNION ALL SELECT 'bounds:l_discount', " +
        "sum(CASE WHEN l_discount < 0.0 OR l_discount > 0.1 THEN 1 ELSE 0 END)" +
        "::DOUBLE FROM lineitem " +
        "UNION ALL SELECT 'bounds:l_quantity', " +
        "sum(CASE WHEN l_quantity < 1.0 OR l_quantity > 40.0 THEN 1 ELSE 0 END)" +
        "::DOUBLE FROM lineitem " +
        "UNION ALL SELECT 'complete:l_quantity', " +
        "(count(*) - count(l_quantity))::DOUBLE / count(*)::DOUBLE FROM lineitem " +
        "UNION ALL SELECT 'custom:tax_le_discount_bound', " +
        "sum(CASE WHEN coalesce(l_tax <= 0.08 OR l_discount <= 0.1, false) " +
        "THEN 0 ELSE 1 END)::DOUBLE FROM lineitem " +
        "UNION ALL SELECT 'ref:l_partkey', count(*)::DOUBLE FROM lineitem " +
        "WHERE l_partkey IS NOT NULL AND l_partkey NOT IN " +
        "(SELECT p_partkey FROM part) " +
        "UNION ALL SELECT 'ref:l_suppkey', count(*)::DOUBLE FROM lineitem " +
        "WHERE l_suppkey IS NOT NULL AND l_suppkey NOT IN " +
        "(SELECT s_suppkey FROM supplier) " +
        "UNION ALL SELECT 'unique:l_orderkey', " +
        "(count(l_orderkey) - count(DISTINCT l_orderkey))::DOUBLE FROM lineitem) " +
        "SELECT \"check\", " + O.r6("metric") + " AS metric, " +
        "CASE WHEN \"check\" = 'complete:l_quantity' THEN " +
        "(CASE WHEN metric <= 0.0 THEN 1 ELSE 0 END) " +
        "ELSE (CASE WHEN metric = 0.0 THEN 1 ELSE 0 END) END AS pass " +
        "FROM m ORDER BY \"check\""),
  )
}
