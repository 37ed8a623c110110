package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, max}

import graft.SparkTestBase

/** Generation attribution and the contracts of `Lineage.fixpoint` (the
  * round guard, the last allowed round, what stays persisted) and of
  * `Lineage.unrolled` (fold equality, what it persists).
  */
class LineageSpec extends SparkTestBase {

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** A one-row counter frame: each step adds 1 to `x`. */
  private def counter = spark.range(1).toDF("x")
  private def inc(s: Seq[DataFrame]): DataFrame = s.head.select((col("x") + 1).as("x"))
  private def x(s: Seq[DataFrame]): Long = s.head.agg(max(col("x"))).head().getLong(0)

  test("a lazy cache first materialized inside a checkpoint is not the generation's") {
    val before = persisted
    val invariant = spark.range(200).toDF("id").persist()
    val gen = Lineage.checkpoint(invariant.filter(col("id") % 2 === 0))
    val invariantIds = persisted -- before -- gen.ids
    assert(invariantIds.nonEmpty, "the invariant did not materialize in the checkpoint job")
    assert(gen.ids.size == 1)
    Lineage.free(gen)
    assert(invariantIds.subsetOf(persisted), "freeing the generation un-cached the invariant")
    assert(invariant.storageLevel.useMemory)
    assert(invariant.count() == 200)
    invariant.unpersist(blocking = true)
  }

  test("fixpoint throws at its round guard, naming the op, and frees its state") {
    val before = persisted
    val e = intercept[IllegalStateException] {
      Lineage.fixpoint("spin", Seq(counter), maxRounds = 3)(inc)(_ => false)
    }
    assert(e.getMessage == "spin did not reach a fixpoint in 3 rounds")
    assert((persisted -- before).isEmpty)
  }

  test("fixpoint returns a loop that settles exactly on round maxRounds") {
    val (Seq(out), rounds) =
      Lineage.fixpoint("count to 3", Seq(counter), maxRounds = 3)(inc)(x(_) == 3)
    assert(rounds == 3)
    assert(x(Seq(out.df)) == 3)
    Lineage.free(out)
    intercept[IllegalStateException] {
      Lineage.fixpoint("count to 3", Seq(counter), maxRounds = 2)(inc)(x(_) == 3)
    }
  }

  test("after fixpoint returns only the returned generations are persisted") {
    val before = persisted
    // two frames, one of them a checkpoint `fixpoint` takes over; the
    // second stage reads the first frame's NEW generation
    val init = Seq(Lineage.checkpoint(counter).df, counter)
    val (out, rounds) = Lineage.fixpoint("pair", init, maxRounds = 10)(
      inc, s => s.head.select((col("x") * 10).as("x")))(
      Lineage.unchanged(s => math.min(x(s), 5L)))
    assert(rounds == 6)
    assert(x(Seq(out(1).df)) == 60)
    assert(persisted -- before == out.flatMap(_.ids).toSet)
    assert(out.forall(_.ids.size == 1))
    out.foreach(Lineage.free)
    assert((persisted -- before).isEmpty)
  }

  /** One fixed round: each row adds its own id, times two — not
    * idempotent, so a dropped or repeated round shows. */
  private def step(df: DataFrame): DataFrame =
    df.select(col("id"), (col("x") * 2 + col("id")).as("x"))
  private def seeded = spark.range(5).toDF("id").select(col("id"), col("id").as("x"))
  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("unrolled equals a plain foldLeft of step for 1, 8, 9 and 17 rounds") {
    for (rounds <- Seq(1, 8, 9, 17)) {
      val (out, gen) = Lineage.unrolled(seeded, rounds)(step)
      val folded = (1 to rounds).foldLeft(seeded)((df, _) => step(df))
      assert(rows(out) == rows(folded), s"at $rounds rounds")
      gen.foreach(Lineage.free)
    }
  }

  test("unrolled persists nothing at 8 rounds or fewer") {
    val before = persisted
    for (rounds <- Seq(0, 1, 8)) {
      val (out, gen) = Lineage.unrolled(seeded, rounds)(step)
      assert(gen.isEmpty, s"a generation at $rounds rounds")
      out.collect()
    }
    assert((persisted -- before).isEmpty)
  }

  test("after unrolled returns only the generation behind its frame is persisted") {
    val before = persisted
    val (out, gen) = Lineage.unrolled(seeded, 25)(step)
    assert(gen.exists(_.ids.size == 1))
    assert(persisted -- before == gen.get.ids)
    out.collect()
    assert(persisted -- before == gen.get.ids)
    Lineage.free(gen.get)
    assert((persisted -- before).isEmpty)
  }
}
