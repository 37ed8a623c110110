package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkTestBase
import graft.ops.Dedup
import graft.sources.Tables

/** Streaming incremental dedup: MemoryStream documents against the
  * static corpus band index ([[DocStreams]]) — candidates match the
  * batch incremental operator's, and the admission filter is its exact
  * complement.
  */
class DocStreamsSpec extends SparkTestBase {

  // corpus = sf0.001 docs with even ids; "stream" = odd ids (so the
  // stream contains both near-dups of corpus docs and fresh docs)
  private lazy val corpus =
    Tables.table(spark, Sf0001, "documents").filter(col("doc_id") % 2 === 0)
  private lazy val streamDocs =
    Tables.table(spark, Sf0001, "documents").filter(col("doc_id") % 2 === 1)

  test("streaming candidates equal the batch incremental band join") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val idx = DocStreams.corpusBandIndex(corpus, "doc_id", "text").cache()
    val input = MemoryStream[Doc]
    val rows = streamDocs.select("doc_id", "text").collect()
      .map(r => Doc(r.getLong(0), r.getString(1)))
    // two micro-batches: stateless joins must not care about batching
    input.addData(rows.take(rows.length / 2).toIndexedSeq: _*)
    input.addData(rows.drop(rows.length / 2).toIndexedSeq: _*)
    EventStreams.runToMemory(
      DocStreams.nearDupCandidates(input.toDF(), idx, "doc_id", "text"),
      "stream_cands", OutputMode.Append())
    val got = spark.table("stream_cands")
      .select("doc_id", "corpus_id").distinct() // sink-side pair dedup
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val bb = Dedup.bandTable(
        Dedup.minhashSignatures(streamDocs, "doc_id", "text", 8), "doc_id", 8, 4)
      .toDF("doc_id", "band_idx", "band_hash")
    val want = bb.join(idx, Seq("band_idx", "band_hash"))
      .select("doc_id", "corpus_id").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    assert(got.nonEmpty, "fixture should produce cross-parity near-dups")
    idx.unpersist()
  }

  test("foreachBatch admission filter is the exact complement of the candidates") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val idx = DocStreams.corpusBandIndex(corpus, "doc_id", "text").cache()
    val input = MemoryStream[Doc]
    val rows = streamDocs.select("doc_id", "text").collect()
      .map(r => Doc(r.getLong(0), r.getString(1)))
    // two micro-batches — the handler fires once per batch
    input.addData(rows.take(rows.length / 2).toIndexedSeq: _*)
    input.addData(rows.drop(rows.length / 2).toIndexedSeq: _*)
    val admitted = scala.collection.mutable.Set[Long]()
    val q = EventStreams.toForeachBatchSink(
      input.toDF(), tmpDir("docstream_ckpt")) { (batch, _) =>
      admitted ++= DocStreams.admissibleBatch(batch, idx, "doc_id", "text")
        .select("doc_id").collect().map(_.getLong(0))
    }.start()
    try q.processAllAvailable()
    finally q.stop()
    // complement check against the batch candidate ids
    val bb = Dedup.bandTable(
        Dedup.minhashSignatures(streamDocs, "doc_id", "text", 8), "doc_id", 8, 4)
      .toDF("doc_id", "band_idx", "band_hash")
    val candIds = bb.join(idx, Seq("band_idx", "band_hash"))
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val allIds = rows.map(_.doc_id).toSet
    assert(admitted.toSet == (allIds -- candIds))
    idx.unpersist()
  }

  test("the streaming plan is stateless: no state store operators") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val idx = DocStreams.corpusBandIndex(corpus, "doc_id", "text")
    val input = MemoryStream[Doc]
    input.addData(Doc(1L, "a b c d e f"))
    val q = EventStreams.runToMemoryQuery(
      DocStreams.nearDupCandidates(input.toDF(), idx, "doc_id", "text"),
      "stream_stateless", OutputMode.Append())
    try {
      q.processAllAvailable()
      val progress = q.lastProgress
      assert(progress != null && progress.stateOperators.isEmpty,
        s"expected no state operators, got $progress")
    } finally q.stop()
  }

  test("stream-static dedup bridge equals the batch incremental pairs at sf0.001") {
    val work = tmpDir("inc_bridge")
    val out = graft.streaming.DocStreams
      .incrementalDedupDirToParquet(spark, Sf0001, work)
    val streamed = spark.read.parquet(out)
      .select("batch_id", "corpus_id", "jac")
      .orderBy("batch_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val d = graft.sources.Tables.table(spark, Sf0001, "documents")
    val batch = graft.ops.Dedup.incrementalNearDupPairs(
      d.filter(col("doc_id") % 5 =!= 0),
      d.filter(col("doc_id") % 5 === 0),
      "doc_id", "text", threshold = 0.8)
      .orderBy("batch_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
  }

  test("the doc bridge stages only its four slice files, in whole-second ascending mtime order") {
    // the file source orders a trigger's files by mtime; the stager
    // stamps one whole second apart so the order holds even on a
    // filesystem with 1 s timestamps, and leaves no _SUCCESS/.crc
    // files for the stream to list
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    val work = tmpDir("inc_bridge_stage")
    DocStreams.incrementalDedupDirToParquet(spark, Sf0001, work)
    val files = scala.util.Using.resource(Files.list(Path.of(work, "stage")))(
      _.iterator.asScala.toList).sortBy(_.getFileName.toString)
    assert(files.map(_.getFileName.toString) ==
      (0 until 4).map(k => f"slice_$k%02d.parquet"))
    val seconds = files.map(p => Files.getLastModifiedTime(p).toMillis / 1000)
    assert(seconds.zip(seconds.tail).forall { case (a, b) => a < b },
      s"slice mtimes (s) not strictly ascending: $seconds")
  }
}

/** Top level, not spec-nested: an inner case class forces its encoder's
  * generated code to reference the outer spec instance, which fails
  * codegen and falls back to interpreted mode — masking real codegen
  * regressions behind an "expected" warning in the suite output.
  */
case class Doc(doc_id: Long, text: String)
