package graft.sharing

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeMap, BoundReference, Coalesce, Expression, Literal, NamedExpression, Or, SubqueryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, LocalRelation, LogicalPlan, Project, Sort, SubqueryAlias, View}
import org.apache.spark.sql.execution.SQLExecution
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

  /** Recognize a member's shape; anything else → None (runs unmerged). */
  def shapeOf(name: String, plan: LogicalPlan): Option[Member] = {
    def top(p: LogicalPlan, acc: List[LogicalPlan]): Option[Member] = p match {
      case a: Aggregate => aggregate(a, acc)
      case pr: Project if pr.projectList.forall(plain) => top(pr.child, pr :: acc)
      case s: Sort if s.global && s.order.forall(plain) => top(s.child, s :: acc)
      case s: SubqueryAlias => top(s.child, s :: acc)
      case _ => None
    }
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
    top(plan, Nil)
  }

  /** Partition a window into merge groups (>= 2 members that read the same
    * scan, group identically and differ below the aggregate only in the
    * filter predicate) and the names of the unmerged rest, in window order. */
  def detect(built: Seq[(String, DataFrame)]): (Seq[Seq[Member]], Seq[String]) = {
    val members = built.flatMap { case (n, df) => shapeOf(n, df.queryExecution.analyzed) }
    def template(m: Member): LogicalPlan =
      Aggregate(m.agg.groupingExpressions, Nil, m.agg.child.transformDown {
        case f: Filter if m.filter.exists(_ eq f) => f.child
      }).canonicalized
    // groupBy keeps window order inside each group
    val groups = members.groupBy(m => (m.fp, template(m)))
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

  /** Run `df` once and bring its rows to the driver as UnsafeRows if they
    * fit `budgetBytes`; None when they do not. A task stops reading once its
    * own rows overflow (and reports -1 bytes), and the driver drops every
    * row it holds once the running total does. */
  def collectWithin(df: DataFrame, budgetBytes: Long): Option[Array[InternalRow]] = {
    val qe = df.queryExecution
    val schema: StructType = df.schema
    SQLExecution.withNewExecutionId(qe, Some("graft-merge")) {
      val capped = qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        val buf = mutable.ArrayBuffer.empty[InternalRow]
        var bytes = 0L
        while (bytes <= budgetBytes && it.hasNext) {
          val r = proj(it.next()).copy()
          bytes += r.getSizeInBytes
          buf += r
        }
        Iterator.single((buf.toArray, if (it.hasNext || bytes > budgetBytes) -1L else bytes))
      }
      val parts = new Array[Array[InternalRow]](capped.getNumPartitions)
      var total = 0L
      var over = false
      df.sparkSession.sparkContext.runJob(capped,
        (it: Iterator[(Array[InternalRow], Long)]) => it.next(),
        (i: Int, res: (Array[InternalRow], Long)) => if (!over) {
          if (res._2 < 0 || total + res._2 > budgetBytes) {
            over = true
            parts.indices.foreach(parts(_) = null)
          } else { total += res._2; parts(i) = res._1 }
        })
      if (over) None else Some(parts.flatten)
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
    val (rows, out) = m.top.foldLeft((kept.map(r => slice(r).copy(): InternalRow), aggOut)) {
      case ((rs, in), p: Project) =>
        val proj = UnsafeProjection.create(p.projectList, in)
        (rs.map(r => proj(r).copy(): InternalRow), p.output)
      case ((rs, in), s: Sort) => (rs.sorted(new LazilyGeneratedOrdering(s.order, in)), in)
      case ((rs, _), s: SubqueryAlias) => (rs, s.output)
      case (_, other) => sys.error(s"not a member top: ${other.nodeName}")
    }
    LocalRelation(out, rows.toSeq)
  }
}
