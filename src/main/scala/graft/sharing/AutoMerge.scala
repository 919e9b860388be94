package graft.sharing

import java.util.concurrent.atomic.AtomicLong

import scala.annotation.tailrec
import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.util.Failure

import org.apache.spark.SimpleFutureAction
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeMap, BoundReference, Coalesce, Expression, Literal, NamedExpression, Or, RuntimeReplaceable, SortOrder, SubqueryExpression, Unevaluable, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, LocalRelation, LogicalPlan, Project, Sort, SubqueryAlias, View}
import org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE
import org.apache.spark.sql.execution.{CommandResultExec, LocalTableScanExec, SQLExecution}
import org.apache.spark.sql.types.StructType

/** Automatic merge of a window's same-shape aggregate statements — MRShare's
  * "simultaneous pipeline" (the reference's hybrid/MultiplePipelines slot,
  * §2.1 #18/#19), done on ANALYZED Catalyst plans.
  *
  * The reference merged jobs by tagging every tuple with its job label and
  * widening the shuffle to per-label aggregators; its own evaluation
  * measured that as a loss on Spark (report.pdf ch.5: per-tuple tags, and
  * every job re-reading the merged result). Here nothing is tagged and nothing is
  * re-read:
  *  - a member is `top (Project | global Sort | SubqueryAlias)* - Aggregate -
  *    row-local (Project | Generate | SubqueryAlias)* - [Filter] - scan`,
  *    where the scan is a file or DSv2 relation under `SubqueryAlias`/`View`
  *    wrappers;
  *  - members whose plans below the aggregate are equal except for that
  *    Filter's predicate, and whose grouping is identical, form a group (their
  *    aggregate lists may differ). Its meta-plan filters the scan once by the
  *    OR of the predicates, evaluates each predicate once (below any
  *    Generate) as a boolean column `f_i`, and turns member i's aggregates
  *    into `agg FILTER (WHERE f_i)` plus a presence count;
  *  - the meta-result is collected to the driver once, within a byte budget,
  *    and split there: member i keeps the rows with presence > 0 (all of
  *    them for an ungrouped aggregate, whose one row exists even when its
  *    filter matches nothing), then its own top is applied with Catalyst's
  *    projections and ordering. The member's action gets a local
  *    DataFrame of exactly those rows (a `LocalRelation`, so an action that
  *    takes or collects it runs no Spark job).
  *
  * Anything else — Limit, HAVING, window functions, DISTINCT or
  * non-deterministic aggregates, subqueries — is not a member and runs
  * unmerged (still sharing the cached scan).
  */
object AutoMerge {

  /** One statement the merge recognizes. `top` is the nodes above the
    * aggregate and `chain` the row-local steps between the filter (or scan)
    * and the aggregate, both listed bottom first. */
  final case class Member(name: String, top: List[LogicalPlan], agg: Aggregate,
                          chain: List[LogicalPlan], filter: Option[Filter],
                          scan: LogicalPlan, fp: String) {
    /** The filter's predicate, or true when there is no filter. */
    def predicate: Expression = filter.fold[Expression](Literal.TrueLiteral)(_.condition)
    def grouped: Boolean = agg.groupingExpressions.nonEmpty
  }

  private def plain(e: Expression): Boolean =
    e.deterministic && !e.exists(_.isInstanceOf[SubqueryExpression])

  /** A file or DSv2 leaf under SubqueryAlias/View wrappers: its fingerprint. */
  private def scanOf(p: LogicalPlan): Option[String] = p match {
    case s: SubqueryAlias => scanOf(s.child)
    case v: View => scanOf(v.child)
    case leaf if leaf.children.isEmpty => ShareDetector.scanLeaves(leaf).headOption.map(_._1)
    case _ => None
  }

  /** Evaluable on the driver, over rows already read, with the result Spark
    * would give: plain, and nothing the optimizer must first rewrite (a
    * `RuntimeReplaceable`, a current-time or current-database call) or that
    * only a physical operator evaluates (an `Unevaluable` other than the
    * attributes and sort orders the projection and ordering bind). */
  private def onDriver(e: Expression): Boolean = plain(e) && !e.containsPattern(CURRENT_LIKE) &&
    !e.exists {
      case _: Attribute | _: SortOrder => false
      case _: Unevaluable | _: RuntimeReplaceable => true
      case _ => false
    }

  /** The top chain of `plan`: its `Project`, global `Sort` and
    * `SubqueryAlias` nodes down to the first other node, listed bottom first
    * and all evaluable on the driver by [[applyTop]], and the plan below
    * them. */
  def topOf(plan: LogicalPlan): (List[LogicalPlan], LogicalPlan) = {
    def peel(p: LogicalPlan, acc: List[LogicalPlan]): (List[LogicalPlan], LogicalPlan) = p match {
      case pr: Project if pr.projectList.forall(onDriver) => peel(pr.child, pr :: acc)
      case s: Sort if s.global && s.order.forall(onDriver) => peel(s.child, s :: acc)
      case s: SubqueryAlias => peel(s.child, s :: acc)
      case _ => (acc, p)
    }
    peel(plan, Nil)
  }

  /** `rows` of the child of `top`'s lowest node, with `top` (bottom first,
    * as [[topOf]] lists it) applied on the driver: each `Project` by an
    * `UnsafeProjection`, each `Sort` by Catalyst's ordering, stably. */
  def applyTop(rows: Array[InternalRow], top: List[LogicalPlan]): Array[InternalRow] =
    top.foldLeft(rows) {
      case (rs, p: Project) =>
        val proj = UnsafeProjection.create(p.projectList, p.child.output)
        rs.map(r => proj(r).copy(): InternalRow)
      case (rs, s: Sort) => rs.sorted(new LazilyGeneratedOrdering(s.order, s.child.output))
      case (rs, _: SubqueryAlias) => rs
      case (_, other) => sys.error(s"not a top node: ${other.nodeName}")
    }

  /** Recognize a member's shape; anything else → None (runs unmerged). */
  def shapeOf(name: String, plan: LogicalPlan): Option[Member] = {
    def aggregate(a: Aggregate, tops: List[LogicalPlan]): Option[Member] = {
      val aggs = a.aggregateExpressions.flatMap(_.collect { case ae: AggregateExpression => ae })
      val ok = (a.groupingExpressions ++ a.aggregateExpressions).forall(plain) &&
        !aggs.exists(_.isDistinct)
      if (ok) below(a.child, Nil).map { case (chain, filter, scan, fp) =>
        Member(name, tops, a, chain, filter, scan, fp)
      } else None
    }
    def below(p: LogicalPlan, acc: List[LogicalPlan])
        : Option[(List[LogicalPlan], Option[Filter], LogicalPlan, String)] = p match {
      case f: Filter if plain(f.condition) =>
        scanOf(f.child).map(fp => (acc, Some(f), f.child, fp))
      case pr: Project if pr.projectList.forall(plain) => below(pr.child, pr :: acc)
      case g: Generate if plain(g.generator) => below(g.child, g :: acc)
      case s: SubqueryAlias if scanOf(s).isEmpty => below(s.child, s :: acc)
      case _ => scanOf(p).map(fp => (acc, None, p, fp))
    }
    topOf(plan) match {
      case (tops, a: Aggregate) => aggregate(a, tops)
      case _ => None
    }
  }

  /** Partition a window into merge groups (>= 2 members that read the same
    * scan, group identically, differ below the aggregate only in the filter
    * predicate and were built on sessions with equal confs, so one session
    * can run them all) and the names of the unmerged rest, in window order. */
  def detect(built: Seq[(String, DataFrame)]): (Seq[Seq[Member]], Seq[String]) = {
    val members = built.flatMap { case (n, df) => shapeOf(n, df.queryExecution.analyzed) }
    val confs = built.map { case (n, df) => n -> df.sparkSession.conf.getAll }.toMap
    def template(m: Member): LogicalPlan =
      Aggregate(m.agg.groupingExpressions, Nil, m.agg.child.transformDown {
        case f: Filter if m.filter.exists(_ eq f) => f.child
      }).canonicalized
    // groupBy keeps window order inside each group
    val groups = members.groupBy(m => (m.fp, template(m), confs(m.name)))
      .values.filter(_.size >= 2).toSeq
      .sortBy(g => built.indexWhere(_._1 == g.head.name))
    val merged = groups.flatten.map(_.name).toSet
    (groups, built.map(_._1).filterNot(merged))
  }

  /** Rewrite `e` from one plan's attributes onto another's, by position. */
  private def onto(from: Seq[Attribute], to: Seq[Attribute])(e: Expression): Expression = {
    val m = AttributeMap(from.zip(to))
    e.transform { case a: Attribute if m.contains(a) => m(a) }
  }

  /** Where member i's columns start in the meta-result: each member has one
    * column per aggregate output, then its presence count. */
  private def offsets(group: Seq[Member]): Seq[Int] =
    group.scanLeft(0)(_ + _.agg.aggregateExpressions.size + 1)

  /** The group's meta-plan: the first member's scan, filtered by the OR of
    * every member's predicate, with member i's aggregate outputs as columns
    * `__m<i>_<j>` followed by its presence count `__n<i>`. */
  def metaPlan(group: Seq[Member]): LogicalPlan = {
    val c = group.head
    val flags = group.zipWithIndex.map { case (m, i) =>
      val p = onto(m.scan.output, c.scan.output)(m.predicate)
      Alias(Coalesce(Seq(p, Literal.FalseLiteral)), s"__f$i")()
    }
    val flagAttrs = flags.map(_.toAttribute)
    val flagged: LogicalPlan = Project(c.scan.output ++ flags,
      Filter(flags.map(_.child).reduce(Or(_, _)), c.scan))
    val rowLocal = c.chain.foldLeft(flagged) {
      case (child, p: Project) => Project(p.projectList ++ flagAttrs, child)
      case (child, g: Generate) => g.copy(child = child)
      case (child, s: SubqueryAlias) => s.copy(child = child)
      case (_, other) => sys.error(s"not row-local: ${other.nodeName}")
    }
    val cols = group.zip(flagAttrs).zipWithIndex.flatMap { case ((m, f), i) =>
      val toCanon = onto(m.agg.child.output, c.agg.child.output) _
      val outs = m.agg.aggregateExpressions.zipWithIndex.map { case (e, j) =>
        val body = e match { case a: Alias => a.child; case other => other }
        Alias(toCanon(body).transform { case ae: AggregateExpression =>
          ae.copy(filter = Some(ae.filter.fold[Expression](f)(And(_, f))),
            resultId = NamedExpression.newExprId)
        }, s"__m${i}_$j")()
      }
      outs :+ Alias(AggregateExpression(Count(Seq(Literal(1))), Complete,
        isDistinct = false, filter = Some(f)), s"__n$i")()
    }
    Aggregate(c.agg.groupingExpressions, cols, rowLocal)
  }

  /** The first rows of a result, in partition order, and whether they are
    * all of them. */
  final case class Collected(rows: Array[InternalRow], complete: Boolean)

  /** Run `df` in one job over all its partitions and bring its rows to the
    * driver as UnsafeRows, as far as they fit `maxRows` and what `lease`
    * lets it draw. Each task sends at most `maxRows + 1` rows; a task whose
    * own rows pass the lease's cap stops reading and sends none, only their
    * size. The driver draws each task's bytes on `lease` before it keeps the
    * rows, and cancels the job as soon as a draw fails or the rows it holds
    * number more than `maxRows`; a failure after either is ignored, as the
    * result is incomplete anyway. The rows it returns stay drawn on `lease`
    * until the caller closes it.
    *
    * Complete: every row. Over the row limit: the first `maxRows + 1` rows
    * when the partitions they lie in arrived before the job ended, else
    * fewer. Over the lease: no rows, and the lease is closed. A plan whose
    * rows are already on the driver (a local relation, a command's result)
    * is read there, with no job and no draw. */
  def collectWithin(df: DataFrame, lease: ByteBudget#Lease, maxRows: Int): Collected = {
    val qe = df.queryExecution
    val schema: StructType = df.schema
    val taskBytes = lease.cap
    SQLExecution.withNewExecutionId(qe, Some("graft-collect")) {
      qe.executedPlan match {
        case local @ (_: LocalTableScanExec | _: CommandResultExec) =>
          val rows = local.executeCollect()
          Collected(rows.take(maxRows + 1), rows.length <= maxRows)
        case _ =>
          val capped = qe.toRdd.mapPartitions { it =>
            val proj = UnsafeProjection.create(schema)
            val buf = mutable.ArrayBuffer.empty[InternalRow]
            var bytes = 0L
            while (bytes <= taskBytes && buf.length <= maxRows && it.hasNext) {
              val r = proj(it.next()).copy()
              bytes += r.getSizeInBytes
              buf += r
            }
            Iterator.single((if (bytes > taskBytes) Array.empty[InternalRow] else buf.toArray, bytes))
          }
          val n = capped.getNumPartitions
          val parts = new Array[Array[InternalRow]](n)
          var rows = 0L
          var overBytes = false
          var job: SimpleFutureAction[Unit] = null
          // the handler runs on the scheduler's thread, one task at a time,
          // and cancels the job there; holding the lock until `job` is set
          // keeps an early handler waiting for it. Results that arrive after
          // a cancel for rows are still kept: they may complete the prefix.
          parts.synchronized {
            job = df.sparkSession.sparkContext.submitJob(capped,
              (it: Iterator[(Array[InternalRow], Long)]) => it.next(), 0 until n,
              (i: Int, res: (Array[InternalRow], Long)) => parts.synchronized {
                if (!overBytes) {
                  if (lease.tryTake(res._2)) {
                    parts(i) = res._1
                    rows += res._1.length
                  } else overBytes = true
                  if ((overBytes || rows > maxRows) && !job.isCancelled) job.cancel()
                }
              }, ())
          }
          Await.ready(job, Duration.Inf)
          parts.synchronized {
            job.value.get match {
              case Failure(e) if rows <= maxRows && !overBytes => throw e
              case _ =>
            }
            if (overBytes) { lease.close(); Collected(Array.empty, complete = false) }
            else if (rows > maxRows)
              Collected(parts.iterator.takeWhile(_ != null).flatten.take(maxRows + 1).toArray,
                complete = false)
            else Collected(parts.flatten, complete = true)
          }
      }
    }
  }

  /** Member `i`'s answer out of the group's collected meta-result: its rows
    * (presence > 0, or the single row of an ungrouped aggregate), then its
    * own top applied on the driver, as a `LocalRelation` of those rows. */
  def split(meta: Array[InternalRow], group: Seq[Member], i: Int): LogicalPlan = {
    val m = group(i)
    val width = m.agg.aggregateExpressions.size
    val base = offsets(group)(i)
    val aggOut = m.agg.output
    val slice = UnsafeProjection.create(aggOut.zipWithIndex.map { case (a, j) =>
      BoundReference(base + j, a.dataType, a.nullable) })
    val kept = if (m.grouped) meta.filter(_.getLong(base + width) > 0) else meta
    val rows = applyTop(kept.map(r => slice(r).copy(): InternalRow), m.top)
    val out = m.top.lastOption.fold(aggOut)(_.output)
    LocalRelation(out, rows.toSeq)
  }
}

/** Bytes that concurrent collects hold on the driver, all drawn on one
  * `capacity`. Each collect draws through its own [[ByteBudget#Lease]],
  * which caps its share and gives everything it drew back at `close`. */
final class ByteBudget(val capacity: Long) {
  private val used = new AtomicLong()

  /** Bytes drawn and not yet given back. */
  def inUse: Long = used.get

  @tailrec private def take(n: Long): Boolean = {
    val u = used.get
    u + n <= capacity && (used.compareAndSet(u, u + n) || take(n))
  }

  def lease(cap: Long): Lease = new Lease(cap)

  final class Lease(val cap: Long) {
    private var held = 0L

    /** Draw `n` more bytes; false, drawing nothing, when they would pass
      * `cap` or the budget. */
    def tryTake(n: Long): Boolean = synchronized {
      val ok = held + n <= cap && take(n)
      if (ok) held += n
      ok
    }

    def close(): Unit = synchronized { used.addAndGet(-held); held = 0 }
  }
}

object ByteBudget {
  /** The most compact row bytes all collects in the JVM keep on the driver
    * at once: a quarter of the driver's max heap. */
  val CollectPoolBytes: Long = Runtime.getRuntime.maxMemory / 4

  /** The budget every collect draws on, gateway replies and merge
    * meta-results alike: [[CollectPoolBytes]]. */
  val collectBudget: ByteBudget = new ByteBudget(CollectPoolBytes)
}
