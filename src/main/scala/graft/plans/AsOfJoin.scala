package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** As-of join as a first-class operator: each left row picks the single
  * right row with the greatest `rightTime <= leftTime` among rows sharing
  * its join keys (LEFT OUTER: no such row → nulls). The canonical
  * time-series enrichment join — "price at order time", "latest click
  * before purchase" — which Spark SQL cannot express as one operator: the
  * usual encodings are an inequality join + per-pair argmax (quadratic
  * blow-up before the filter) or a union + window trick (forces both
  * tables through one sort and loses the two-table shape).
  *
  * Scale design: this is a genuine whole-operator extension (reference
  * workloads express it only as the quadratic theta-join;
  * `sparksql-server/src/main/scala/CommandsApp.scala` builds plain
  * key-equality joins), so it takes the custom
  * LogicalPlan + SparkStrategy + SparkPlan route, registered through
  * [[graft.functions.GraftExtensions]]. The exec declares
  * `ClusteredDistribution` on the keys and per-partition `(keys, time)`
  * ordering, so EnsureRequirements co-partitions both sides (one hash
  * shuffle each, exactly like a sort-merge join) and the merge itself is a
  * single forward scan holding ONE buffered right row — no candidate
  * blow-up, no window over the union, linear in |L| + |R| per partition.
  * At 100 TB both sides stream; skew on the key is AQE's problem exactly
  * as for SMJ.
  *
  * Determinism: among right rows tied on (keys, time) the last one in the
  * partition's sort order wins; callers who need a stable answer make the
  * right side unique per (keys, time) — the q100 query does.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression) extends BinaryNode {
  require(leftKeys.length == rightKeys.length, "as-of join key arity mismatch")
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy: AsOfJoinPlan → AsOfJoinExec, children planned later. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // co-partition on the keys: one hash exchange per side, same as SMJ
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  // per-partition merge order: (keys..., time) ascending on both sides
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  override def outputPartitioning = left.outputPartitioning

  // the merge emits left rows in their sorted order untouched
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeyEx = leftKeys
    val rKeyEx = rightKeys
    val lTimeEx = leftTime
    val rTimeEx = rightTime
    val allOut = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lkProj = UnsafeProjection.create(lKeyEx, lOut)
      val rkProj = UnsafeProjection.create(rKeyEx, rOut)
      val ltProj = UnsafeProjection.create(Seq(lTimeEx), lOut)
      val rtProj = UnsafeProjection.create(Seq(rTimeEx), rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lKeyEx.map(_.dataType))
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lTimeEx.dataType))
      val outProj = UnsafeProjection.create(allOut, lOut ++ rOut)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rOut.length)
      val rBuf = rIter.buffered
      // one-row state: the latest right row at or before the current left
      // time for the current key (copied — Unsafe buffers are reused)
      var lastMatch: InternalRow = null
      var lastMatchKey: InternalRow = null
      lIter.map { lRow =>
        val lk = lkProj(lRow)
        val lt = ltProj(lRow)
        var advance = true
        while (advance && rBuf.hasNext) {
          val head = rBuf.head
          val cmp = keyOrd.compare(rkProj(head), lk)
          if (cmp < 0) {
            rBuf.next() // dead key: every remaining left key is >= lk
          } else if (cmp == 0 && timeOrd.compare(rtProj(head), lt) <= 0) {
            lastMatch = rBuf.next().copy()
            lastMatchKey = rkProj(lastMatch).copy()
          } else {
            advance = false // right head is ahead of this left row
          }
        }
        val matched = lastMatch != null && lastMatchKey != null &&
          keyOrd.compare(lastMatchKey, lk) == 0 &&
          timeOrd.compare(rtProj(lastMatch), lt) <= 0
        outProj(joined(lRow, if (matched) lastMatch else nullRight))
      }
    }
  }
}

/** Dataset-level entry point (the `merge_asof` of this library). */
object AsOf {

  /** `join(orders, prices, keys, "o_date", "p_date")`: each left row gains
    * the columns of the latest right row with `rightTime <= leftTime` for
    * its keys (nulls if none). Right-side columns should be pre-renamed
    * where they would collide with left names — the output carries both
    * sides' columns. */
  def join(leftDf: DataFrame, rightDf: DataFrame, on: Seq[String],
           leftTime: String, rightTime: String): DataFrame =
    join(leftDf, rightDf, on, on, leftTime, rightTime)

  /** As above with independently named key columns per side. */
  def join(leftDf: DataFrame, rightDf: DataFrame,
           leftOn: Seq[String], rightOn: Seq[String],
           leftTime: String, rightTime: String): DataFrame = {
    val spark = leftDf.sparkSession
    val lp = leftDf.queryExecution.analyzed
    val rp = rightDf.queryExecution.analyzed
    def attr(out: Seq[Attribute], name: String): Attribute =
      out.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(
          s"as-of join column '$name' not in ${out.map(_.name).mkString(", ")}"))
    GraftSqlShim.ofRows(spark, AsOfJoinPlan(
      lp, rp,
      leftOn.map(attr(lp.output, _)), rightOn.map(attr(rp.output, _)),
      attr(lp.output, leftTime), attr(rp.output, rightTime)))
  }
}
