package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Streaming document ingestion: the continuous form of the incremental
  * dedup shape ([[graft.ops.Dedup.incrementalNearDupPairs]]) — new
  * documents arrive as a stream and are flagged against the STATIC
  * deduped corpus's band index before admission, so near-duplicates of
  * already-held documents never enter the corpus.
  *
  * Scale shape: the corpus band index is the batch-maintained table
  * (stored bucketed on the band keys, [[graft.etl.Layout.writeBucketed]])
  * and joins stream-static — Spark re-plans the static side per
  * micro-batch, so a nightly-refreshed index is picked up without
  * restarting the query. Per micro-batch the work is exactly the
  * incremental batch shape: signature projection over the new docs
  * (codegen'd one-pass MinHash — no shuffle), band explode, equi-join
  * into the index. No stream-side state accumulates: the join is
  * stateless (static right side), so an unbounded ingest stream holds
  * zero rows of streaming state — the property that distinguishes this
  * from a stream-stream self-join formulation, which would be unbounded
  * without aggressive watermarking.
  *
  * Seed-free md5 "permutations" (the [[Dedup]] signature discipline) are
  * what make the precomputed index valid against stream-side signatures
  * computed later — there is no RNG seed to drift between the index
  * build and the stream.
  */
object DocStreams {

  /** Band table of the static corpus — precompute once (or read the
    * bucketed table the batch pipeline maintains).
    */
  def corpusBandIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      bands: Int = 4,
  ): DataFrame =
    Dedup.bandTable(Dedup.minhashSignatures(corpus, idCol, textCol, k), idCol, k, bands)
      .toDF("corpus_id", "band_idx", "band_hash")

  /** Flag streaming documents whose MinHash bands collide with the
    * corpus index: emits one row per (new doc, matched corpus doc,
    * band) candidate. Exact verification (token Jaccard against the
    * matched corpus doc's text) and per-pair dedup ride in
    * `foreachBatch` at the sink — a pair colliding in several bands
    * appears once per band here, because collapsing it in-stream
    * (`dropDuplicates`) would grow UNBOUNDED state across micro-batches,
    * while at the sink it is a within-batch `distinct` over ≤ `bands`
    * rows per pair.
    *
    * `docs` must carry (idCol, textCol); any extra columns pass through.
    */
  def nearDupCandidates(
      docs: DataFrame, // streaming
      bandIndex: DataFrame, // static (corpus_id, band_idx, band_hash)
      idCol: String,
      textCol: String,
      k: Int = 8,
      bands: Int = 4,
  ): DataFrame = {
    val sigs = Dedup.minhashSignatures(docs, idCol, textCol, k)
    val banded = Dedup.bandTable(sigs, idCol, k, bands)
      .toDF("doc_id", "band_idx", "band_hash")
    banded
      .join(bandIndex, Seq("band_idx", "band_hash")) // stream-static
      .select(col("doc_id"), col("corpus_id"), col("band_idx"))
  }

  /** Stream-static bridge harness — the FIFTH batch↔stream gate (r11):
    * replay the `doc_id % 5 == 0` slice of the documents table as a
    * FILE STREAM against the band index of the static corpus
    * (`doc_id % 5 != 0` — the exact split of the batch
    * q_dedup_incremental gate), with the stream-static equi-join
    * running IN the streaming plan ([[nearDupCandidates]]) and the
    * exact-Jaccard verification riding per micro-batch in
    * `foreachBatch`. The pair set is order-free and each stream doc
    * lives in exactly one micro-batch, so the union over batches IS
    * the batch operator's result — the existing q_dedup_incremental
    * DuckDB oracle hash-checks it verbatim.
    *
    * Production shapes exercised, deliberately: the band index is
    * WRITTEN to parquet and re-read as the static side (the
    * batch-maintained table a nightly job refreshes — Spark re-plans
    * the static side per micro-batch, so a refresh is picked up
    * without restarting the query); the join is stateless (zero
    * streaming state regardless of ingest length — no watermark, no
    * sentinels, unlike the events bridges); the sink is idempotent
    * per micro-batch (`mb=N` overwrite partitions — named `mb`, not
    * `batch_id`, because this result already carries a `batch_id`
    * DATA column, the new-doc id).
    */
  def incrementalDedupDirToParquet(
      spark: SparkSession,
      srcDir: String,
      workDir: String): String = {
    EventStreams.wipeTree(workDir)
    val stage = s"$workDir/stage"
    val indexPath = s"$workDir/band_index"
    val d = graft.sources.Tables.table(spark, srcDir, "documents")
      .select(col("doc_id"), col("text"))
    val corpus = d.filter(col("doc_id") % 5 =!= 0)
    // the batch-maintained static side: built once, landed as a table
    corpusBandIndex(corpus, "doc_id", "text").write.parquet(indexPath)
    val bandIndex = spark.read.parquet(indexPath)
    // slice the new-doc stream by doc_id hash: any partitioning works
    // (every band hit of a doc lands in that doc's own micro-batch),
    // hash keeps the staging deterministic
    val slices = 4
    EventStreams.stageSlices(
      d.filter(col("doc_id") % 5 === 0)
        .withColumn("_slice", pmod(col("doc_id"), lit(slices)).cast("int")),
      slices, stage)
    val tokens = d.select(col("doc_id"),
      graft.ops.TextAnalysis.tokens(col("text")).as("toks"))
    // the session's own shuffle width: the stream is stateless, so
    // there is no state store to size
    EventStreams.streamSlices(spark, "doc_id BIGINT, text STRING", stage,
      workDir, "mb", spark.conf.get("spark.sql.shuffle.partitions").toInt,
      interruptAfterBatches = None)(
      nearDupCandidates(_, bandIndex, "doc_id", "text"),
      { cands =>
        // within-batch: collapse per-band duplicates (bounded — ≤ bands
        // rows per pair) and verify with exact token Jaccard
        cands
          .select(col("doc_id").as("batch_id"), col("corpus_id"))
          .distinct()
          .join(tokens.toDF("batch_id", "toks_b"), "batch_id")
          .join(tokens.toDF("corpus_id", "toks_c"), "corpus_id")
          .withColumn("jac", Dedup.jaccard(col("toks_b"), col("toks_c")))
          .filter(col("jac") >= 0.8)
          .select(col("batch_id"), col("corpus_id"), col("jac"))
      })
  }

  /** Admission filter for ONE micro-batch: docs that collide with NO
    * corpus band — the rows safe to append to the corpus.
    *
    * This is a per-micro-batch (foreachBatch) function, not a streaming
    * plan: admission needs a LEFT ANTI join of the batch against its own
    * band hits, and a stream-derived right side is not streaming-
    * plannable (Spark rejects `LeftAnti` with a streaming right) — nor
    * should it be: "which of this batch's docs had no hit" is a
    * batch-local question. Inside `foreachBatch`
    * ([[EventStreams.toForeachBatchSink]]) each micro-batch is a plain
    * DataFrame, the anti join is legal, and the corpus index append can
    * ride in the same idempotent handler (keyed by batchId).
    */
  def admissibleBatch(
      batch: DataFrame,
      bandIndex: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      bands: Int = 4,
  ): DataFrame = {
    val banded = Dedup.bandTable(
      Dedup.minhashSignatures(batch, idCol, textCol, k), idCol, k, bands)
    val hits = banded
      .join(bandIndex, Seq("band_idx", "band_hash"))
      .select(col(idCol))
    batch.join(hits, Seq(idCol), "left_anti")
  }
}
