package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.Det.r6

/** Embedding quantization — the storage/bandwidth half of similarity
  * search at corpus scale. A 100 TB float32 vector store is 25 TB as
  * uint8 codes: per-vector affine (min/max) quantization is the
  * standard first step (faiss's ScalarQuantizer, Milvus SQ8), cutting
  * scan I/O 4× for a bounded, per-vector-auditable reconstruction
  * error, with no trained codebook to version.
  *
  * Everything is a narrow per-row projection over array HOFs
  * (`transform`/`aggregate`/`zip_with` — codegen'd, no UDFs), so the
  * operator fuses into whatever scan precedes it; there is no shuffle
  * at any scale. Determinism: code assignment is spelled
  * `floor(x + 0.5)` clamped to 255 — pure correctly-rounded IEEE ops,
  * bit-identical across engines (Spark's `round` and DuckDB's `round`
  * disagree near ties; this spelling cannot).
  */
object Quantization {

  /** Per-vector affine uint8 quantization of a float-array column.
    * Emits the quantization audit frame: the affine params (`mn`, `mx`),
    * an exact BIGINT checksum of the codes (`code_sum` — the
    * cross-engine witness that every one of the 8-bit codes matches),
    * and the worst-element reconstruction error `max_err` (≤ scale/2 by
    * construction; 6-dp rounded). Constant vectors (mx == mn) get code
    * 0 everywhere and zero error.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val base = df.select(
      col(idCol),
      col(vecCol).as("_v"),
      array_min(col(vecCol)).cast("double").as("mn"),
      array_max(col(vecCol)).cast("double").as("mx"))
      .withColumn("_scale", (col("mx") - col("mn")) / lit(255.0))
    val codes = when(col("_scale") === 0.0,
      transform(col("_v"), _ => lit(0L)))
      .otherwise(transform(col("_v"), x =>
        least(floor((x.cast("double") - col("mn")) / col("_scale") + lit(0.5)),
          lit(255.0)).cast("long")))
    base.withColumn("_codes", codes)
      .select(
        col(idCol), col("mn"), col("mx"),
        aggregate(col("_codes"), lit(0L), (a, c) => a + c).as("code_sum"),
        r6(aggregate(
          zip_with(col("_codes"), col("_v"), (c, x) =>
            abs(col("mn") + c.cast("double") * col("_scale") - x.cast("double"))),
          lit(0.0), (a, e) => greatest(a, e))).as("max_err"))
  }

  /** The quantized vectors themselves: (id, mn, scale, codes) — what a
    * real pipeline persists (codes as array<smallint>: parquet has no
    * unsigned byte, and int8 would need a −128 offset that buys
    * nothing after compression). Decode is `mn + code * scale`.
    */
  def quantizeVectors(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val base = df.select(col(idCol), col(vecCol).as("_v"),
      array_min(col(vecCol)).cast("double").as("mn"),
      array_max(col(vecCol)).cast("double").as("mx"))
      .withColumn("scale", (col("mx") - col("mn")) / lit(255.0))
    base.select(
      col(idCol), col("mn"), col("scale"),
      when(col("scale") === 0.0, transform(col("_v"), _ => lit(0).cast("short")))
        .otherwise(transform(col("_v"), x =>
          least(floor((x.cast("double") - col("mn")) / col("scale") + lit(0.5)),
            lit(255.0)).cast("short"))).as("codes"))
  }

  /** Binary (sign-bit) quantization: dimension i contributes bit
    * (i mod 32) of word i/32 iff `v[i] >= 0`. One bit per float32
    * component — a 32× storage/scan cut, the aggressive end of the
    * quantization ladder (int8 is 4×, PQ ~64× with a codebook; binary
    * needs NO trained state at all). Words are 32-bit (held in longs,
    * always non-negative) rather than 64-bit so every value stays
    * exactly representable and sign-free in BOTH engines — the same
    * concern the SimHash gate solves by re-keying, avoided here by
    * construction. Packing is spelled acc·2+bit over descending bit
    * index (no shift-by-column, which the Column DSL lacks), exactly
    * mirrorable in the oracle.
    *
    * Emits (id, words: array<long>) — ceil(d/32) words per vector. A
    * narrow per-row projection (array HOFs, codegen), no shuffle.
    */
  def quantizeBinary(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val d = size(col(vecCol))
    // Column `/` is double division; floor+cast restores ceil(d/32) words
    val nWords = floor((d + lit(31)) / lit(32)).cast("int")
    df.select(col(idCol),
      transform(sequence(lit(0), nWords - 1), j =>
        aggregate(
          sequence(lit(31), lit(0), lit(-1)),
          lit(0L),
          (acc, b) => {
            val i = j * 32 + b
            acc * 2 + when(i < d &&
              element_at(col(vecCol), i + 1).cast("double") >= 0.0, 1L)
              .otherwise(0L)
          })).as("words"))
  }

  /** Hamming distance between two packed word arrays: popcount of the
    * per-word XOR, summed. One xor+popcount per 32 dimensions — the
    * whole point of the binary code.
    */
  def hamming(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    aggregate(
      zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), _ + _)

  /** Binary top-k retrieval: small query set broadcast against the
    * packed corpus, ranked by Hamming distance (ties by candidate id).
    * The 100 TB pattern: the packed corpus is 32× smaller than the
    * float store, the scan is xor+popcount, and the survivors (k per
    * query) are cheap to exact-rerank from the float store afterwards
    * — [[hammingTopK]] is the candidate generator of that two-stage
    * retrieval, not a replacement for exact scoring.
    *
    * queries: (qid, qw: array<long>), corpus: (cid, cw: array<long>).
    * Returns (qid, cid, hd, rank), rank 1..k per qid.
    */
  def hammingTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int): DataFrame =
    Similarity.rankCut(
      corpus.crossJoin(broadcast(queries)).withColumn("hd", hamming(col("qw"), col("cw"))),
      "hd", k, descending = false)

  /** Two-stage retrieval — the production architecture the pieces above
    * exist for, composed end to end: the 32×-smaller binary codes
    * generate `m` Hamming candidates per query ([[hammingTopK]]), and
    * ONLY those m rows touch the float store for the exact cosine
    * re-rank to top `k`. The scan cost is xor+popcount over packed
    * words; exact scoring pays m·k-sized work instead of corpus-sized —
    * at 100 TB the float store is read m-rows-per-query via the
    * candidate equi-join, never scanned.
    *
    * Self-matches stay in (a query IS its own nearest neighbor —
    * dropping it is the caller's filter). Returns
    * (qid, cid, score r6, rank 1..k) with the (score DESC, cid) total
    * order so the cut is deterministic cross-engine.
    */
  def twoStageTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame, // (qid, qv: array<float>)
      m: Int,
      k: Int): DataFrame = {
    require(m >= k, s"candidate pool m=$m must cover k=$k")
    val packed = quantizeBinary(corpus, idCol, vecCol)
      .select(col(idCol).as("cid"), col("words").as("cw"))
    val qPacked = quantizeBinary(queries, "qid", "qv")
      .select(col("qid"), col("words").as("qw"))
    val cands = hammingTopK(qPacked, packed, m).select("qid", "cid")
    Similarity.scoreTopK(
      cands
        .join(corpus.select(col(idCol).as("cid"), col(vecCol).as("ce")), "cid")
        .join(broadcast(queries.select(col("qid"), col("qv").as("qe"))), "qid"),
      k)
  }
}
