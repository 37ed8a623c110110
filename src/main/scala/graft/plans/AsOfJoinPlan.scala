package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Attribute, AttributeReference, Expression, GenericInternalRow,
  JoinedRow, RowOrdering, SortOrder, UnsafeProjection
}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native as-of join: full custom-operator Catalyst machinery — logical
  * node, planner strategy, physical sorted-merge operator — for the one
  * relational operator this engine needs that Spark lacks whole-cloth
  * (tier (c) of the custom-operator preference order, DECISIONS.md #7).
  *
  * Semantics (matching DuckDB `ASOF LEFT JOIN ... ON l.k = r.k AND
  * l.t > r.t` and [[graft.ops.TemporalJoins.asofJoinBig]]): every left
  * row picks the right row with the largest `rightTime` strictly before
  * its `leftTime` within the same key, emitting that row's time and
  * value as `asof_t`/`asof_v` (null when no earlier right row exists).
  *
  * Why a physical operator when the union-merge window form already
  * works: the window form pays an extra sort of the UNION of both sides
  * plus a post-filter; the native exec declares
  * `requiredChildDistribution`/`requiredChildOrdering` so Catalyst's
  * EnsureRequirements co-partitions and sorts each side independently
  * (exactly a sort-merge join's shuffle shape), and the merge itself is
  * a single O(|L|+|R|) two-pointer pass per partition with O(1) state —
  * no union row inflation, no filter pass, no window buffering. At
  * 100 TB both sides shuffle once on the key, same as SMJ; skewed keys
  * respond to the same AQE skew handling.
  */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Attribute,
    rightKey: Attribute,
    leftTime: Attribute,
    rightTime: Attribute,
    rightValue: Attribute,
    asofT: AttributeReference,
    asofV: AttributeReference,
) extends BinaryNode {

  override def output: Seq[Attribute] = left.output :+ asofT :+ asofV

  // asof_t/asof_v originate HERE, not in a child — without this,
  // CheckAnalysis flags them as missing from the children's output
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(Seq(asofT, asofV))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Planner rule: [[AsOfJoin]] → [[AsOfJoinExec]]. Installed through
  * the public `experimental.extraStrategies` hook by Sessions.tune
  * (which Sessions.get calls), or at session build by
  * `SparkSessionExtensions.injectPlannerStrategy` ([[graft.GraftExtensions]]).
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsOfJoin =>
      AsOfJoinExec(j.leftKey, j.rightKey, j.leftTime, j.rightTime,
        j.rightValue, j.asofT, j.asofV, planLater(j.left), planLater(j.right)) :: Nil
    case _ => Nil
  }
}

/** Physical sorted-merge as-of join.
  *
  * Declares clustered distribution on the key for both children and
  * (key ASC, time ASC) child orderings; EnsureRequirements inserts the
  * exchanges/sorts, so by `doExecute` both iterators arrive
  * co-partitioned and sorted. The merge keeps one candidate (time,
  * value) pair per in-flight key — the right pointer never rewinds, so
  * the pass is O(|L|+|R|) with O(1) state per partition regardless of
  * key cardinality or duplication.
  */
case class AsOfJoinExec(
    leftKey: Attribute,
    rightKey: Attribute,
    leftTime: Attribute,
    rightTime: Attribute,
    rightValue: Attribute,
    asofT: AttributeReference,
    asofV: AttributeReference,
    left: SparkPlan,
    right: SparkPlan,
) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output :+ asofT :+ asofV

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(Seq(asofT, asofV))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  // right side adds the value as the final sort key: several right rows
  // sharing (key, time) would otherwise make "last advanced" run-order
  // dependent — same tiebreak as the union-merge window form
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, org.apache.spark.sql.catalyst.expressions.Ascending),
      SortOrder(leftTime, org.apache.spark.sql.catalyst.expressions.Ascending)),
    Seq(SortOrder(rightKey, org.apache.spark.sql.catalyst.expressions.Ascending),
      SortOrder(rightTime, org.apache.spark.sql.catalyst.expressions.Ascending),
      SortOrder(rightValue, org.apache.spark.sql.catalyst.expressions.Ascending)))

  // the merge preserves the left side's row order and partitioning
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    // localize every field the closure touches: referencing case-class
    // members directly would capture `this` and serialize the whole
    // physical plan subtree into each task
    val lOut = left.output
    val rOut = right.output
    val (lKey, lTime) = (leftKey, leftTime)
    val (rKey, rTime, rVal) = (rightKey, rightTime, rightValue)
    val (aT, aV) = (asofT, asofV)
    val out = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(Seq[Expression](lKey), lOut)
      val rKeyProj = UnsafeProjection.create(Seq[Expression](rKey), rOut)
      val lTimeProj = UnsafeProjection.create(Seq[Expression](lTime), lOut)
      val rTvProj = UnsafeProjection.create(Seq[Expression](rTime, rVal), rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lKey.dataType))
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lTime.dataType))
      val resultProj = UnsafeProjection.create(out.map(a => a: Expression),
        lOut :+ aT :+ aV)
      val joined = new JoinedRow
      val noMatch = new GenericInternalRow(2) // (null, null)

      var curR: InternalRow = if (rIter.hasNext) rIter.next() else null
      var last: InternalRow = null // copied (asof_t, asof_v) candidate
      var lastKey: InternalRow = null // copied key of `last`

      lIter.map { l =>
        val lk = lKeyProj(l)
        val lt = lTimeProj(l).copy() // lTimeProj's buffer; loop re-projects
        // advance the right side through every row strictly before
        // (lk, lt); the latest same-key one becomes the candidate
        var advancing = curR != null
        while (advancing) {
          val c = keyOrd.compare(rKeyProj(curR), lk)
          if (c < 0 ||
            (c == 0 && timeOrd.compare(rTvProj(curR), lt) < 0)) {
            if (c == 0) {
              last = rTvProj(curR).copy()
              lastKey = rKeyProj(curR).copy()
            }
            curR = if (rIter.hasNext) rIter.next() else null
            advancing = curR != null
          } else advancing = false
        }
        val matched = last != null && keyOrd.compare(lastKey, lk) == 0
        resultProj(joined(l, if (matched) last else noMatch))
      }
    }
  }
}

object AsOfJoinPlan {

  /** Build the native as-of join as a DataFrame.
    *
    * The right side is re-aliased through a fresh Project so self-joins
    * (the common "previous event of the same entity" shape) never carry
    * duplicate expression ids into the binary node. Output = all left
    * columns + `asof_t`/`asof_v`.
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTimeCol: String,
      rightTimeCol: String,
      valueCol: String,
  ): DataFrame = {
    val spark = left.sparkSession
    register(spark)
    val lp = left.queryExecution.analyzed
    val rp0 = right.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"column $n not in ${p.output.map(_.name).mkString(", ")}"))
    // fresh exprIds for the right side (self-join safety)
    val aliases = rp0.output.map(a => Alias(a, a.name)())
    val rp = Project(aliases, rp0)
    val rAttr = aliases.map(_.toAttribute)
    def rattr(n: String): Attribute =
      rAttr.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not on right side"))
    val rTime = rattr(rightTimeCol)
    val rVal = rattr(valueCol)
    val (lKeyA, lTimeA) = (attr(lp, keyCol), attr(lp, leftTimeCol))
    // the exec compares RIGHT rows with orderings built from LEFT types;
    // a silent type mismatch (long vs int key) would read garbage, so
    // fail at plan time instead
    require(lKeyA.dataType == rattr(keyCol).dataType,
      s"as-of key type mismatch: ${lKeyA.dataType} vs ${rattr(keyCol).dataType}")
    require(lTimeA.dataType == rTime.dataType,
      s"as-of time type mismatch: ${lTimeA.dataType} vs ${rTime.dataType}")
    val node = AsOfJoin(lp, rp,
      lKeyA, rattr(keyCol), lTimeA, rTime, rVal,
      AttributeReference("asof_t", rTime.dataType, nullable = true)(),
      AttributeReference("asof_v", rVal.dataType, nullable = true)())
    org.apache.spark.sql.GraftShims.ofRows(spark, node)
  }

  /** Idempotently register the planner strategy on an existing session
    * (the public `experimental.extraStrategies` hook).
    */
  def register(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.exists(_ eq AsOfJoinStrategy))
      spark.experimental.extraStrategies = cur :+ AsOfJoinStrategy
  }
}
