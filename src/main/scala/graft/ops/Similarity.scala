package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.Det.r6

/** Temporal joins Spark lacks as built-ins, per the build brief's
  * preference order: composed from existing operators (tier a) rather
  * than custom plan machinery, valid while the reference side stays
  * broadcastable.
  */
object TemporalJoins {

  /** As-of join against a SMALL reference table: for each left row,
    * attach the latest right row whose time key is strictly before the
    * left's. The right side collapses to one sorted array broadcast to
    * every task — each probe is a per-row array scan, no shuffle at all.
    * The composition holds while the right side is broadcastable
    * (reference/rates tables typically are); a big-big as-of needs the
    * union-merge window form instead, same output contract.
    */
  def asofJoinSmall(
      left: DataFrame,
      right: DataFrame, // (t, v) — small
      leftTimeCol: String,
      rightTimeCol: String,
      rightValCol: String,
      maxRightRows: Int = 1000000,
  ): DataFrame = {
    // enforce the small-side contract instead of letting a big right
    // side OOM the driver inside collect_list. No silent fallback: this
    // join is UNKEYED (a global as-of), so the keyed big-big form
    // [[asofJoinBig]] is not a drop-in — the caller must pick a key.
    // limit(n+1).count() stops the probe early instead of scanning all
    // of a huge right side just to learn it is too big.
    val probed = right.limit(maxRightRows + 1).count()
    require(probed <= maxRightRows,
      s"asofJoinSmall: right side exceeds $maxRightRows rows — it is " +
        "broadcast as ONE packed array; use asofJoinBig(key, ...) instead")
    val packed = right.agg(
      sort_array(collect_list(struct(
        col(rightTimeCol).as("t"), col(rightValCol).as("v")))).as("ref"))
    val hits = filter(col("ref"), x => x("t") < col(leftTimeCol))
    left
      .crossJoin(broadcast(packed))
      .withColumn("asof",
        when(size(hits) > 0, element_at(hits, -1))) // ANSI-safe: null when empty
      .withColumn("asof_t", col("asof.t"))
      .withColumn("asof_v", col("asof.v"))
      .drop("ref", "asof")
  }

  /** Keyed big-big as-of join via union-merge: neither side broadcasts.
    * Left and right rows interleave into one frame, partitioned by the
    * key and sorted by (time, side-tag); a running `last(ignoreNulls)`
    * over the preceding frame carries the latest right value forward to
    * every left row. ONE shuffle (the window's hash partition on the
    * key) — the sort-merge shape as-of joins want at scale, with skew
    * handled like any window (salt the key). Right rows at the exact
    * left timestamp sort AFTER the left row, preserving the strict
    * `right.t < left.t` contract of [[asofJoinSmall]].
    */
  def asofJoinBig(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTimeCol: String,
      rightTimeCol: String,
      rightValCol: String,
  ): DataFrame = {
    val valType = right.schema(rightValCol).dataType
    val timeType = right.schema(rightTimeCol).dataType
    val leftCols = left.columns
    val l = left.withColumn("_t", col(leftTimeCol))
      .withColumn("_tag", lit(0))
      .withColumn("_rv", lit(null).cast(valType))
      .withColumn("_rt", lit(null).cast(timeType))
    val r = right.select(
      col(keyCol),
      col(rightTimeCol).as("_t"),
      lit(1).as("_tag"),
      col(rightValCol).as("_rv"),
      col(rightTimeCol).as("_rt"))
    val merged = l.select(
      (leftCols.map(col) :+ col("_t") :+ col("_tag") :+ col("_rv") :+ col("_rt")): _*)
      .unionByName(r, allowMissingColumns = true)
    // tag asc: at equal timestamps the left row (tag 0) sorts BEFORE the
    // right row (tag 1), so its preceding frame excludes the same-t
    // right value — strict `right.t < left.t`
    // _rv as the final tiebreak: several right rows sharing (key, t)
    // would otherwise make last(ignoreNulls) run-order dependent
    val w = Window.partitionBy(keyCol).orderBy(col("_t"), col("_tag"), col("_rv"))
      .rowsBetween(Window.unboundedPreceding, -1)
    merged
      .withColumn("asof_v", last(col("_rv"), ignoreNulls = true).over(w))
      .withColumn("asof_t", last(col("_rt"), ignoreNulls = true).over(w))
      .filter(col("_tag") === 0)
      .drop("_t", "_tag", "_rv", "_rt")
  }

  /** FORWARD as-of: the nearest right value strictly AFTER the left
    * timestamp (`right.t > left.t`) — the direction [[asofJoinBig]]'s
    * backward lookup can't express (pandas' merge_asof
    * direction='forward'). Same union-merge single-shuffle shape,
    * mirrored: right rows sort BEFORE left rows at equal timestamps so
    * the strictly-following frame excludes same-t right values, and
    * `first` over the following frame picks min t (then min value on
    * ties — deterministic).
    */
  def asofJoinBigForward(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTimeCol: String,
      rightTimeCol: String,
      rightValCol: String,
  ): DataFrame = {
    val valType = right.schema(rightValCol).dataType
    val timeType = right.schema(rightTimeCol).dataType
    val leftCols = left.columns
    val l = left.withColumn("_t", col(leftTimeCol))
      .withColumn("_tag", lit(1))
      .withColumn("_rv", lit(null).cast(valType))
      .withColumn("_rt", lit(null).cast(timeType))
    val r = right.select(
      col(keyCol),
      col(rightTimeCol).as("_t"),
      lit(0).as("_tag"),
      col(rightValCol).as("_rv"),
      col(rightTimeCol).as("_rt"))
    val merged = l.select(
      (leftCols.map(col) :+ col("_t") :+ col("_tag") :+ col("_rv") :+ col("_rt")): _*)
      .unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(keyCol).orderBy(col("_t"), col("_tag"), col("_rv"))
      .rowsBetween(1, Window.unboundedFollowing)
    merged
      .withColumn("asof_v", first(col("_rv"), ignoreNulls = true).over(w))
      .withColumn("asof_t", first(col("_rt"), ignoreNulls = true).over(w))
      .filter(col("_tag") === 1)
      .drop("_t", "_tag", "_rv", "_rt")
  }

  /** Tolerance post-filter for either as-of direction: null out matches
    * whose time gap exceeds `toleranceSec` — "a quote is only valid for
    * N seconds". Compares on epoch SECONDS (timestamp→long truncation),
    * the granularity oracles can reproduce exactly.
    */
  def withAsofTolerance(
      joined: DataFrame,
      leftTimeCol: String,
      toleranceSec: Long): DataFrame = {
    val gap = abs(col(leftTimeCol).cast("long") - col("asof_t").cast("long"))
    val ok = col("asof_t").isNotNull && gap <= toleranceSec
    joined
      .withColumn("asof_v", when(ok, col("asof_v")))
      .withColumn("asof_t", when(ok, col("asof_t")))
  }

  /** Range (interval-containment) join: left points t ∈ right intervals
    * [start, end], inclusive. A naive theta join is a cartesian product;
    * this buckets time into `bucketSeconds` cells, explodes each
    * interval over the cells it covers, and equi-joins points to cells —
    * Catalyst plans a shuffled hash join on the bucket id, and the exact
    * containment filter then discards same-bucket non-matches. Work
    * scales with matches + interval-length/bucket ratio, never |L|×|R|.
    * Pick `bucketSeconds` near the median interval length (one or two
    * cells per interval).
    */
  def rangeJoin(
      points: DataFrame, // (… , t: timestamp)
      intervals: DataFrame, // (… , start: timestamp, end: timestamp)
      timeCol: String,
      startCol: String,
      endCol: String,
      bucketSeconds: Long,
  ): DataFrame = {
    val b = lit(bucketSeconds)
    val pB = points.withColumn("_bucket", (col(timeCol).cast("long") / b).cast("long"))
    val iB = intervals.withColumn(
      "_bucket",
      explode(sequence(
        (col(startCol).cast("long") / b).cast("long"),
        (col(endCol).cast("long") / b).cast("long"))))
    pB.join(iB, Seq("_bucket"))
      .filter(col(timeCol) >= col(startCol) && col(timeCol) <= col(endCol))
      .drop("_bucket")
  }
}

/** Similarity search over embedding columns (`array<float>`) — SURVEY.md
  * §7.4 extension surface.
  *
  * One score-and-rank kernel, many candidate generators. Every top-k
  * in the retrieval family builds its own (qid, cid, qe, ce) candidate
  * pairs and hands them to the same two steps:
  *  - [[score]]: `r6(cosine(qe, ce))` — the 6-dp rounding that lets a
  *    gate hash-check its scores against DuckDB;
  *  - [[rankCut]]: per query, order by the metric then `cid` and keep
  *    ranks 1..k, emitting (qid, cid, metric, rank).
  *
  * The generators: [[cosineTopK]] (exact: the small query set broadcast
  * against every candidate — the verifier for the rest),
  * [[multiProbeTopK]] and [[bucketedTopK]] (LSH: only the query's own
  * bucket, plus its Hamming-1 neighbours for multi-probe — Charikar
  * 2002, Lv et al. 2007) and [[ivfTopK]] (inverted-file cells). The
  * Hamming, two-stage and PQ rankers in [[Quantization]] and
  * [[ProductQuantization]] reuse [[rankCut]] on their own metric.
  * [[cosineTopKAgg]] takes the score step and then a bounded-heap
  * aggregator instead of the window.
  *
  * All arithmetic is double-precision in array order (left fold), making
  * scores bit-reproducible across runs and engines.
  */
object Similarity {

  /** Dot product of two float-array columns, accumulated in double in
    * array order (deterministic left fold).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Squared L2 norm, double, array order. */
  def normSq(a: Column): Column =
    aggregate(
      transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Cosine similarity — codegen'd native expression
    * ([[graft.functions.CosineSim]]); [[cosineHof]] is the declarative
    * reference it is property-tested against (bit-identical by
    * construction: same accumulation order).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSim.cosine(a, b)

  /** Built-in-functions spelling of [[cosine]] — interpreted, three array
    * walks; kept as the semantic oracle for the native expression.
    */
  def cosineHof(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(normSq(a)) * sqrt(normSq(b)))

  /** The kernel's score step: (qid, cid, qe, ce) pairs → (qid, cid,
    * score) with `score = r6(cosine(qe, ce))`. Only the triple leaves
    * it, so the rank-cut's shuffle never moves vectors.
    */
  private def score(pairs: DataFrame): DataFrame =
    pairs.select(col("qid"), col("cid"), r6(cosine(col("qe"), col("ce"))).as("score"))

  /** The kernel's rank-cut: per `qid`, order by `metric` (descending
    * for similarities, ascending for distances) then `cid`, and keep
    * ranks 1..k. Returns (qid, cid, metric, rank) — a total order, so
    * the cut is the same in every engine.
    */
  private[ops] def rankCut(
      scored: DataFrame, metric: String, k: Int, descending: Boolean): DataFrame = {
    val by = if (descending) col(metric).desc else col(metric).asc
    scored.select(col("qid"), col("cid"), col(metric))
      .withColumn("rank", row_number().over(Window.partitionBy("qid").orderBy(by, col("cid"))))
      .filter(col("rank") <= k)
  }

  /** Both kernel steps: the k best cosine scores per query. */
  private[ops] def scoreTopK(pairs: DataFrame, k: Int): DataFrame =
    rankCut(score(pairs), "score", k, descending = true)

  /** Every (query, candidate) pair but a query's match with itself —
    * the generator of the exact paths.
    */
  private def allPairs(queries: DataFrame, candidates: DataFrame): DataFrame =
    candidates.crossJoin(broadcast(queries)).filter(col("qid") =!= col("cid"))

  /** Exact top-k cosine neighbours for each query vector.
    *
    * `queries` must be small enough to broadcast (the usual ANN serving
    * shape: thousands of probes against a huge corpus). The cross join is
    * explicitly broadcast so candidates stream map-side with no shuffle;
    * the window's shuffle moves only (qid, cid, score) triples, never
    * vectors.
    */
  def cosineTopK(
      queries: DataFrame, // (qid, qe: array<float>)
      candidates: DataFrame, // (cid, ce: array<float>)
      k: Int,
  ): DataFrame =
    scoreTopK(allPairs(queries, candidates), k)

  /** Deterministic random-hyperplane LSH bucket id (`nBits` sign bits).
    *
    * Hyperplane component j,i is ±1 derived from md5(j||'_'||i) — no RNG
    * state to persist, reproducible everywhere. Returns an integer bucket
    * in [0, 2^nBits). Implemented as a codegen'd Catalyst expression
    * ([[graft.functions.CosineLsh]]); [[lshBucketHof]] is the declarative
    * reference implementation it is property-tested against.
    */
  def lshBucket(vec: Column, nBits: Int = 8): Column =
    graft.functions.CosineLsh.bucketOf(vec, nBits)

  /** Built-in-functions form of [[lshBucket]] — interpreted lambda HOFs
    * re-evaluate the md5 per (bit, element) per row, so this is the slow
    * path kept only as the semantic oracle for the codegen expression.
    */
  def lshBucketHof(vec: Column, nBits: Int = 8): Column =
    (0 until nBits)
      .map { j =>
        // sign bit of <v, h_j> where h_j[i] = ±1 from md5 nibble parity
        val proj = aggregate(
          transform(
            sequence(lit(0), size(vec) - lit(1)),
            i => {
              val x = element_at(vec, i + lit(1)).cast("double")
              val sign =
                substring(md5(concat(lit(s"${j}_"), i.cast("string"))), 1, 1) < "8"
              when(sign, x).otherwise(-x)
            }),
          lit(0.0), (acc, x) => acc + x)
        when(proj >= 0.0, lit(1 << j)).otherwise(lit(0))
      }
      .reduce(_ + _)

  /** Corpus bucketing for the approximate path: attach bucket ids. */
  def lshBuckets(df: DataFrame, vecCol: String, nBits: Int = 8): DataFrame =
    df.withColumn("bucket", lshBucket(col(vecCol), nBits))

  /** [[cosineTopK]] with the bounded-heap typed aggregator instead of a
    * window: each map task pre-reduces its candidate slice to ≤ k
    * entries per query, so the shuffle carries bounded heaps rather than
    * every scored pair — the scale path when candidates-per-query is
    * large. Output is identical to [[cosineTopK]] (same tie-breaks);
    * the spec asserts row-for-row agreement.
    */
  def cosineTopKAgg(
      queries: DataFrame, // (qid, qe: array<float>)
      candidates: DataFrame, // (cid, ce: array<float>)
      k: Int,
  ): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val scored = score(allPairs(queries, candidates))
      .select(col("qid").cast("long"), col("cid").cast("long"), col("score"))
      .as[(Long, Long, Double)]
    scored
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(new graft.functions.TopKAggregator(k).toColumn)
      .flatMap { case (qid, top) =>
        top.iterator.zipWithIndex.map { case ((cid, s), i) => (qid, cid, s, i + 1) }
      }
      .toDF("qid", "cid", "score", "rank")
  }

  /** Multi-probe LSH top-k (Lv et al. 2007): each query probes its own
    * bucket plus every Hamming-1 neighbour (the buckets one flipped
    * hyperplane sign away — where near neighbours land when a projection
    * sits close to its boundary). Recall rises toward brute force at
    * (nBits+1)× probe cost, with the corpus index unchanged — the
    * standard recall/latency dial when re-bucketing is too expensive.
    */
  def multiProbeTopK(
      queries: DataFrame, // (qid, qe)
      candidates: DataFrame, // (cid, ce)
      k: Int,
      nBits: Int = 4,
  ): DataFrame =
    probeTopK(queries, candidates, k, nBits, 0 +: (0 until nBits).map(1 << _))

  /** Approximate top-k: score only candidates sharing the query's LSH
    * bucket — multi-probe with the query's own bucket as the only probe.
    * Trades recall for a 2^nBits fan-in reduction; callers verify
    * recall against [[cosineTopK]] on a sample.
    */
  def bucketedTopK(
      queries: DataFrame, // (qid, qe)
      candidates: DataFrame, // (cid, ce)
      k: Int,
      nBits: Int = 4,
  ): DataFrame =
    probeTopK(queries, candidates, k, nBits, Seq(0))

  /** The LSH generator: each query probes the buckets `masks` away (by
    * XOR) from its own and meets the candidates hashed there.
    */
  private def probeTopK(
      queries: DataFrame,
      candidates: DataFrame,
      k: Int,
      nBits: Int,
      masks: Seq[Int]): DataFrame = {
    val qProbes = queries
      .withColumn("bucket0", lshBucket(col("qe"), nBits))
      .withColumn("bucket",
        explode(array(masks.map(m => col("bucket0").bitwiseXOR(lit(m))): _*)))
      .drop("bucket0")
    val cb = candidates.withColumn("bucket", lshBucket(col("ce"), nBits))
    // no distinct needed: the probed masks are pairwise distinct, a
    // candidate lives in exactly one bucket → each (qid, cid) at most once
    scoreTopK(
      cb.join(broadcast(qProbes), Seq("bucket")).filter(col("qid") =!= col("cid")), k)
  }

  /** IVF coarse quantizer: a deterministic stride-subset of the corpus
    * serves as centroids (`id % stride == 0`) — no k-means RNG state to
    * persist, reproducible across engines, and at 100 TB the centroid set
    * stays a broadcastable few thousand rows for any corpus size by
    * raising the stride.
    */
  def ivfCentroids(vecs: DataFrame, idCol: String, vecCol: String, stride: Int): DataFrame =
    vecs.filter(col(idCol) % stride === 0)
      .select(col(idCol).as("centroid_id"), col(vecCol).as("cv"))

  /** IVF approximate top-k (inverted-file ANN): candidates live in
    * exactly one cell, queries probe their `nProbe` nearest cells, and
    * the exact cosine runs only within probed cells — corpus scan work
    * drops by ~|cells|/nProbe. The cell id doubles as the partition key
    * at scale, so a probe touches only its cells' partitions. Recall is
    * verified against [[cosineTopK]] in the spec.
    */
  def ivfTopK(
      queries: DataFrame, // (qid, qe)
      candidates: DataFrame, // (cid, ce)
      k: Int,
      stride: Int = 64,
      nProbe: Int = 2,
  ): DataFrame = {
    val cen = ivfCentroids(candidates, "cid", "ce", stride)
      .select(col("centroid_id").as("cid"), col("cv").as("ce"))
    // cell assignment is the kernel again, with the centroids as the
    // candidates: each vector's `n` best centroids by rounded cosine,
    // ties to the lower centroid id. Scoring is a map-side broadcast
    // cross join; the cut shuffles only triples, never embeddings.
    def cells(vecs: DataFrame, n: Int): DataFrame =
      scoreTopK(vecs.crossJoin(broadcast(cen)), n)
        .select(col("qid"), col("cid").as("centroid_id"))
    val cCells = cells(candidates.select(col("cid").as("qid"), col("ce").as("qe")), 1)
      .withColumnRenamed("qid", "cid")
    val qCells = cells(queries, nProbe)
    // each (qid, cid) pair arises at most once: a candidate has one cell.
    // qCells (nQueries × nProbe rows) broadcasts, so the probe is a
    // map-side semi-join against the cell-keyed candidate assignment —
    // no shuffle keyed on the (skewed) cell id.
    val pairs = cCells
      .join(broadcast(qCells), "centroid_id")
      .join(broadcast(queries), "qid")
      .join(candidates, "cid")
      .filter(col("qid") =!= col("cid"))
    scoreTopK(pairs, k)
  }

  /** ANN quality evaluation: per-query recall of an approximate top-k
    * against the exact one — THE metric that justifies (or indicts) an
    * LSH/IVF scale path, computed as a relational op so it runs over
    * the full query set, not a sampled spot check.
    *
    * Inputs are any two frames with (qid, cid) rows (ranks/scores
    * ignored); output is one row per qid: the exact-neighbour count,
    * how many of them the approximate result found, and the recall
    * fraction. The denominator is the EXACT side's row count, so
    * queries whose exact neighbourhood is smaller than k are scored
    * fairly. One hash join + one aggregate, both on the query key.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    val a = approx.select(col("qid"), col("cid")).withColumn("_hit", lit(1L))
    exact.select("qid", "cid")
      .join(a, Seq("qid", "cid"), "left")
      .groupBy("qid")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_hit"))
      // long/long via one double cast: the same single IEEE division in
      // any engine — no rounding discipline needed
      .withColumn("recall", col("n_hit").cast("double") / col("n_exact"))
  }

  /** Johnson–Lindenstrauss signed random projection of an embedding
    * column down to `k` dimensions: proj_j(v) = Σᵢ sᵢⱼ·vᵢ / √k with
    * sᵢⱼ ∈ {+1, −1}. The sign matrix is md5-derived (first hex digit
    * of md5("j_i") < '8' ⇒ +1) — no RNG, so two engines build the SAME
    * matrix and the projection is hash-checkable; same discipline as
    * the SimHash oracle. ±1 (Achlioptas) signs preserve the JL
    * distance-distortion guarantee of Gaussian projections.
    *
    * Returns one row per (id, dim ∈ [0, k)) with the r6-rounded
    * projection value. Use as the cheap dimensionality-reduction stage
    * ahead of ANN indexing: a 64-d float vector becomes k doubles in
    * one codegen'd map pass — no shuffle, no driver state, no fitted
    * model to broadcast.
    */
  def randomProjection(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    // nested HOFs: outer transform supplies the output dim j, inner
    // zip_with/aggregate run the signed sequential fold over the input
    // dims — all codegen'd, all O(d·k) per row
    val signedSums =
      s"""transform(sequence(0, ${k - 1}), j -> aggregate(
         |  zip_with($vecCol, sequence(0, size($vecCol) - 1), (v, i) ->
         |    CASE WHEN substring(md5(concat(cast(j AS STRING), '_', cast(i AS STRING))), 1, 1) < '8'
         |         THEN cast(v AS DOUBLE) ELSE -cast(v AS DOUBLE) END),
         |  cast(0.0 AS DOUBLE), (acc, x) -> acc + x))""".stripMargin
    df.select(col(idCol), posexplode(expr(signedSums)).as(Seq("dim", "_raw")))
      .select(col(idCol), col("dim"),
        r6(col("_raw") / sqrt(lit(k.toDouble))).as("proj"))
  }
}
