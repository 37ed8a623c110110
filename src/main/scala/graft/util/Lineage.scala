package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Rotating local-checkpoint bookkeeping for iterative operators.
  *
  * `Dataset.localCheckpoint()` materializes the frame into block-manager
  * storage, and nothing frees those blocks until the DRIVER garbage-
  * collects the underlying RDD object (ContextCleaner reacts to JVM GC;
  * its own periodic GC defaults to 30 min). An iterative operator that
  * checkpoints per round therefore keeps its ENTIRE generation history
  * alive for the lifetime of a long-running session. For the connected-
  * components loop the generation frame is corpus-sized (one label row
  * per document), so at production scale an unbounded while-loop holds
  * rounds × |corpus| rows of executor storage it will never read again.
  *
  * [[checkpoint]] eagerly materializes and records which persistent-RDD
  * id backs the frame; [[rotate]] checkpoints the next generation and
  * frees the previous one; [[free]] drops a generation's blocks.
  *
  * Two loop drivers sit on [[rotate]], and a loop takes the one its
  * round count calls for:
  *  - [[fixpoint]], for data-dependent loops that run until a settle
  *    check holds: kCore's delta-peel, and the four min-plus relaxation
  *    loops that share one kernel and one witness in `graft.ops.Graphs`
  *    (sssp, closenessCentrality, Dedup's duplicateClusters and the hook
  *    and pointer chase of duplicateClustersFast). It rotates every
  *    round, because each round's settle check runs a job on the new
  *    state anyway;
  *  - [[unrolled]], for fixed-round loops (the PageRank family,
  *    labelPropagation, the Lloyd loop of kmeans and PQ): it applies
  *    each round lazily and rotates only every 8th round, the boundary
  *    DECISIONS "Round-5 boundary correction" measured: below it an
  *    eager checkpoint per round cost more than the plan it truncated.
  * `hitsBipartite` takes neither: it rotates each half-iteration's raw
  * aggregate, which both its normalization and the next half read.
  *
  * Contract: a freed generation is UNREADABLE (local checkpoints
  * truncate lineage — there is nothing to recompute from), so callers
  * only rotate once the next generation is materialized, which
  * [[rotate]] guarantees by checkpointing eagerly first. A generation
  * is exactly the RDD behind the checkpointed plan's own `LogicalRDD`:
  * a lazily persisted frame (a loop invariant) that first materializes
  * inside the checkpoint job stays cached and stays its owner's to
  * unpersist.
  */
object Lineage {

  /** A materialized generation: the checkpointed frame plus the
    * persistent-RDD ids holding its blocks. */
  final case class Gen(df: DataFrame, ids: Set[Int])

  /** Eagerly localCheckpoint `df` and record its block footprint. */
  def checkpoint(df: DataFrame): Gen = own(df.localCheckpoint())

  /** The generation `df` already is: the persisted RDD of its root
    * `LogicalRDD` (what `localCheckpoint` returns), or no ids for any
    * other frame. */
  private def own(df: DataFrame): Gen = {
    val persisted = df.sparkSession.sparkContext.getPersistentRDDs
    Gen(df, df.queryExecution.logical match {
      case r: LogicalRDD if persisted.contains(r.rdd.id) => Set(r.rdd.id)
      case _ => Set.empty
    })
  }

  /** Checkpoint the next generation, then free the previous one. */
  def rotate(next: DataFrame, prev: Gen): Gen = {
    val out = checkpoint(next)
    free(prev)
    out
  }

  /** Drop a generation's blocks (non-blocking). The frame must not be
    * read again. */
  def free(g: Gen): Unit = {
    val reg = g.df.sparkSession.sparkContext.getPersistentRDDs
    g.ids.foreach(id => reg.get(id).foreach(_.unpersist(blocking = false)))
  }

  /** Drive a data-dependent loop to its fixpoint.
    *
    * The state is one frame per stage. Each round runs the stages in
    * order and [[rotate]]s stage i's output in place of frame i, so
    * stage i sees this round's frames before i and the previous
    * round's from i on: a stage that must read a frame already rewritten
    * this round comes after that frame's stage. Then `settled` runs once
    * on the new generation — one scalar job, e.g. [[unchanged]] over a
    * monotone witness.
    *
    * It owns every generation it touches, the checkpointed
    * frames of `init` included: on return only the returned
    * generations are still persisted, and they are the caller's to
    * [[free]]. Round `maxRounds` still unsettled throws
    * `IllegalStateException("<op> did not reach a fixpoint in <n>
    * rounds")` after freeing the state — a runaway guard, never a
    * truncation.
    *
    * @return the settled generations and the rounds used
    */
  def fixpoint(op: String, init: Seq[DataFrame], maxRounds: Int)(
      stages: (Seq[DataFrame] => DataFrame)*)(
      settled: Seq[DataFrame] => Boolean): (Seq[Gen], Int) = {
    require(stages.size == init.size,
      s"$op: ${stages.size} stages for ${init.size} state frames")
    @annotation.tailrec
    def go(state: Seq[Gen], rounds: Int): (Seq[Gen], Int) = {
      if (rounds >= maxRounds) {
        state.foreach(free)
        throw new IllegalStateException(
          s"$op did not reach a fixpoint in $maxRounds rounds")
      }
      val next = stages.indices.foldLeft(state)((s, i) =>
        s.updated(i, rotate(stages(i)(s.map(_.df)), s(i))))
      if (settled(next.map(_.df))) (next, rounds + 1) else go(next, rounds + 1)
    }
    go(init.map(own), 0)
  }

  /** Lazy rounds between two rotations of [[unrolled]] (why 8: the object doc). */
  private val RotateEvery = 8

  /** Drive a fixed-round loop: `rounds` lazy applications of `step`,
    * no job per round. Every 8th round with rounds still to go
    * [[rotate]]s the state to a new generation, so the plan and the
    * blocks held stay bounded at any round count; at `rounds <= 8` it
    * adds no job and persists nothing.
    *
    * It frees every generation it made except the last, which backs
    * the returned frame: the caller frees it once the frame is
    * materialized or no longer read. `init` stays the caller's.
    *
    * @return the final (lazy) frame and the generation behind it, if any
    */
  def unrolled(init: DataFrame, rounds: Int)(
      step: DataFrame => DataFrame): (DataFrame, Option[Gen]) =
    (1 to rounds).foldLeft((init, Option.empty[Gen])) { case ((df, gen), i) =>
      val next = step(df)
      if (i % RotateEvery == 0 && i < rounds) {
        val g = gen.fold(checkpoint(next))(rotate(next, _))
        (g.df, Some(g))
      } else (next, gen)
    }

  /** Whether `df` is already a generation — its root is a persisted
    * `LogicalRDD`, as a [[checkpoint]]'s frame is. */
  private[graft] def isGeneration(df: DataFrame): Boolean = own(df).ids.nonEmpty

  /** A [[fixpoint]] settle check that holds once `witness` repeats its
    * previous round's value (`seed` stands in for round 0's). */
  def unchanged[W](
      witness: Seq[DataFrame] => W,
      seed: Option[W] = None): Seq[DataFrame] => Boolean = {
    var prev = seed
    state => {
      val w = Some(witness(state))
      val same = w == prev
      prev = w
      same
    }
  }

  /** Materialize `body`'s result as a generation, then unpersist every
    * other RDD persisted while it ran — an operator's exit sweep, for
    * bodies whose internals (nested operators' caches and generations)
    * are not all in hand. The sweep diffs the context's persistent-RDD
    * registry, so it holds only single-driver-threaded, and a frame the
    * CALLER cached lazily that first materializes inside `body` is
    * swept too: materialize or re-cache such a frame before calling.
    */
  def sweep(spark: SparkSession)(body: => DataFrame): DataFrame = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = checkpoint(body)
    val reg = sc.getPersistentRDDs
    (reg.keySet -- before -- out.ids)
      .foreach(id => reg.get(id).foreach(_.unpersist(blocking = false)))
    out.df
  }
}
