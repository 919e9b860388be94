package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{DateType, IntegerType, LongType, TimestampType}

/** Interval (banded) join: emit every (left, right) pair sharing the join
  * keys with `rightTime ∈ [leftTime + lower, leftTime + upper]` — the
  * click→conversion attribution / sensor-alignment join.
  *
  * Why a custom operator: Spark plans the equi+range condition as a
  * sort-merge join whose non-equi part is a RESIDUAL filter — within each
  * key group SMJ enumerates the full |L_k| x |R_k| cross product and
  * filters, so one hot key (a bot user, a popular item) costs quadratic
  * work. This exec keeps both sides sorted by (keys, time) and sweeps a
  * sliding buffer of exactly the right rows inside the current window:
  * linear in |L| + |R| + output, with memory bounded by the widest window,
  * independent of key group size. Offsets are in the time column's native
  * integer unit (µs for timestamps, days for dates).
  */
case class IntervalJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    lower: Long,
    upper: Long) extends BinaryNode {
  require(leftKeys.length == rightKeys.length, "interval join key arity mismatch")
  require(lower <= upper, s"empty interval [$lower, $upper]")
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): IntervalJoinPlan =
    copy(left = newLeft, right = newRight)
}

object IntervalJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case IntervalJoinPlan(l, r, lk, rk, lt, rt, lo, up) =>
      IntervalJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, lo, up) :: Nil
    case _ => Nil
  }
}

case class IntervalJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    lower: Long,
    upper: Long) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  override def outputPartitioning = left.outputPartitioning

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): IntervalJoinExec =
    copy(left = newLeft, right = newRight)

  // time columns carry their value as a JVM integral (µs for timestamps,
  // days for dates); reject types where that's not true
  private def checkTimeType(e: Expression): Unit = e.dataType match {
    case TimestampType | LongType | IntegerType | DateType =>
    case other => throw new IllegalArgumentException(
      s"interval join time column must be integral/timestamp, got $other")
  }
  checkTimeType(leftTime); checkTimeType(rightTime)

  protected override def doExecute(): RDD[InternalRow] = {
    val (lOut, rOut, allOut) = (left.output, right.output, output)
    val (lKeyEx, rKeyEx, lTimeEx, rTimeEx) = (leftKeys, rightKeys, leftTime, rightTime)
    val (lo, up) = (lower, upper)
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lkProj = UnsafeProjection.create(lKeyEx, lOut)
      val rkProj = UnsafeProjection.create(rKeyEx, rOut)
      val ltProj = UnsafeProjection.create(Seq(lTimeEx), lOut)
      val rtProj = UnsafeProjection.create(Seq(rTimeEx), rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lKeyEx.map(_.dataType))
      def getter(e: Expression): InternalRow => Long = e.dataType match {
        case TimestampType | LongType => row => row.getLong(0)
        case IntegerType | DateType   => row => row.getInt(0).toLong
        case other => throw new IllegalStateException(s"non-integral time: $other")
      }
      val (lGet, rGet) = (getter(lTimeEx), getter(rTimeEx))
      val outProj = UnsafeProjection.create(allOut, lOut ++ rOut)
      val joined = new JoinedRow
      val rBuf = rIter.buffered
      // sliding window state for the CURRENT key: right rows with
      // rtime <= lt+up not yet evicted; entries are (rtime, copied row)
      val win = ArrayBuffer.empty[(Long, InternalRow)]
      var winKey: InternalRow = null
      lIter.flatMap { lRow =>
        val lk = lkProj(lRow)
        val lt = lGet(ltProj(lRow))
        if (winKey == null || keyOrd.compare(winKey, lk) != 0) {
          win.clear()
          winKey = lk.copy()
        }
        // pull right rows for this key up to lt+up into the window
        var advance = true
        while (advance && rBuf.hasNext) {
          val head = rBuf.head
          val cmp = keyOrd.compare(rkProj(head), lk)
          if (cmp < 0) rBuf.next() // dead key
          else if (cmp == 0 && rGet(rtProj(head)) <= lt + up) {
            val r = rBuf.next().copy()
            win += ((rGet(rtProj(r)), r))
          } else advance = false
        }
        // evict rows now below lt+lo (left times ascend, eviction is final)
        var drop = 0
        while (drop < win.length && win(drop)._1 < lt + lo) drop += 1
        if (drop > 0) win.remove(0, drop)
        // emit lazily: flatMap exhausts this iterator before advancing the
        // left row, so the window buffer is stable while it drains and the
        // reused output-projection buffer follows the iterator contract
        // (each emitted row is valid until the next `next()`)
        win.iterator.filter(_._1 >= lt + lo).map { case (_, r) =>
          outProj(joined(lRow, r))
        }
      }
    }
  }
}

object IntervalJoin {

  /** All pairs with equal keys and `rightTime` in
    * `[leftTime + lower, leftTime + upper]` (native time units). */
  def join(leftDf: DataFrame, rightDf: DataFrame,
           leftOn: Seq[String], rightOn: Seq[String],
           leftTime: String, rightTime: String,
           lower: Long, upper: Long): DataFrame = {
    val spark = leftDf.sparkSession
    val lp = leftDf.queryExecution.analyzed
    val rp = rightDf.queryExecution.analyzed
    def attr(out: Seq[Attribute], name: String): Attribute =
      out.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(
          s"interval join column '$name' not in ${out.map(_.name).mkString(", ")}"))
    GraftSqlShim.ofRows(spark, IntervalJoinPlan(
      lp, rp,
      leftOn.map(attr(lp.output, _)), rightOn.map(attr(rp.output, _)),
      attr(lp.output, leftTime), attr(rp.output, rightTime), lower, upper))
  }
}
