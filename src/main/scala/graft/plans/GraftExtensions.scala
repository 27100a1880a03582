package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{And, AttributeSet, Expression, IntegerLiteral}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalLimit, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Planner strategy for graft's custom logical operators: plans
  * [[AsOfJoinPlan]] into [[AsOfJoinExec]] and [[IntervalJoinPlan]] into
  * [[IntervalJoinExec]]. Injected per-session by
  * [[GraftExtensions.install]] (core.Sessions wires it into every
  * builder). */
object GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsOfJoinPlan =>
      // variant choice = the SMJ-vs-BHJ rule: broadcast the right side
      // when its estimated size fits the session's broadcast threshold
      // (or when the caller pinned it), else co-partition both sides
      val useBroadcast = j.broadcastRight.getOrElse {
        val thr = org.apache.spark.sql.internal.SQLConf.get
          .autoBroadcastJoinThreshold
        thr > 0 && j.right.stats.sizeInBytes >= 0 &&
          j.right.stats.sizeInBytes <= thr
      }
      if (useBroadcast)
        BroadcastAsOfJoinExec(j.leftKeys, j.rightKeys, j.leftTime,
          j.rightTime, j.tolerance, j.forward, planLater(j.left),
          planLater(j.right)) :: Nil
      else
        AsOfJoinExec(j.leftKeys, j.rightKeys, j.leftTime, j.rightTime,
          j.tolerance, j.forward, planLater(j.left), planLater(j.right)) ::
          Nil
    case j: IntervalJoinPlan =>
      val useBroadcast = j.broadcastRight.getOrElse {
        val thr = org.apache.spark.sql.internal.SQLConf.get
          .autoBroadcastJoinThreshold
        thr > 0 && j.right.stats.sizeInBytes >= 0 &&
          j.right.stats.sizeInBytes <= thr
      }
      if (useBroadcast)
        BroadcastIntervalJoinExec(j.leftKeys, j.rightKeys, j.leftStart,
          j.leftEnd, j.rightStart, j.rightEnd, planLater(j.left),
          planLater(j.right)) :: Nil
      else
        IntervalJoinExec(j.leftKeys, j.rightKeys, j.leftStart, j.leftEnd,
          j.rightStart, j.rightEnd, planLater(j.left),
          planLater(j.right)) :: Nil
    case _ => Nil
  }
}

/** Optimizer support Catalyst cannot give an unknown node: predicate
  * pushdown and column pruning THROUGH [[AsOfJoinPlan]]. Without these,
  * any filter or projection above an as-of join stalls there — the
  * parquet scan below reads every column and every row, which is exactly
  * the plan shape that does not survive 100 TB.
  *
  *  - Filter(cond, asof): deterministic conjuncts referencing only LEFT
  *    output move into the left child (every left row produces exactly one
  *    output row, so a left-only predicate commutes with the join).
  *    Right-side conjuncts must stay: they see post-join values (nulls for
  *    unmatched rows) and, unlike an ordinary left-outer equi-join,
  *    pre-filtering the right side would CHANGE which row is "latest
  *    at-or-before" rather than merely drop output rows.
  *  - Project(_, asof): children are narrowed to the attributes the
  *    projection or the join itself consumes, so scan pruning reaches the
  *    parquet reader on both sides.
  *
  * Both rewrites reach a fixed point: re-application finds nothing left
  * to push (the kept filter references the right side; the pruned child
  * output already equals the required set). */
object AsOfJoinOptimizations extends Rule[LogicalPlan] {

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  private def pruneChild(required: AttributeSet)(
      child: LogicalPlan): LogicalPlan = {
    val keep = child.output.filter(required.contains)
    if (keep.size < child.output.size) Project(keep, child) else child
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, j: AsOfJoinPlan) =>
      val (push, keep) = splitConjuncts(cond).partition(p =>
        p.deterministic && p.references.subsetOf(j.left.outputSet))
      if (push.isEmpty) f
      else {
        val pushed = j.copy(left = Filter(push.reduce(And), j.left))
        keep.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }

    case p @ Project(projList, j: AsOfJoinPlan) =>
      val required = AttributeSet(projList.flatMap(_.references)) ++
        j.joinReferences
      val nl = pruneChild(required)(j.left)
      val nr = pruneChild(required)(j.right)
      if ((nl eq j.left) && (nr eq j.right)) p
      else Project(projList, j.copy(left = nl, right = nr))

    // the as-of join emits exactly ONE row per left row, so a limit
    // above it bounds the left scan (the LimitPushDown rule's left-outer
    // join case, which doesn't know this node) — probe queries stop
    // reading the fact side after n rows
    case l @ LocalLimit(IntegerLiteral(n), j: AsOfJoinPlan)
        if !j.left.isInstanceOf[LocalLimit] =>
      l.copy(child = j.copy(left = LocalLimit(l.limitExpr, j.left)))

    // INNER interval join: a deterministic single-side conjunct commutes
    // with the join on EITHER side (unlike the as-of join, dropping a
    // right interval only removes its own pairs — it cannot change which
    // other rows pair up)
    case f @ Filter(cond, j: IntervalJoinPlan) =>
      val (pushL, rest) = splitConjuncts(cond).partition(p =>
        p.deterministic && p.references.subsetOf(j.left.outputSet))
      val (pushR, keep) = rest.partition(p =>
        p.deterministic && p.references.subsetOf(j.right.outputSet))
      if (pushL.isEmpty && pushR.isEmpty) f
      else {
        val pushed = j.copy(
          left = pushL.reduceOption(And).map(Filter(_, j.left))
            .getOrElse(j.left),
          right = pushR.reduceOption(And).map(Filter(_, j.right))
            .getOrElse(j.right))
        keep.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }

    case p @ Project(projList, j: IntervalJoinPlan) =>
      val required = AttributeSet(projList.flatMap(_.references)) ++
        j.joinReferences
      val nl = pruneChild(required)(j.left)
      val nr = pruneChild(required)(j.right)
      if ((nl eq j.left) && (nr eq j.right)) p
      else Project(projList, j.copy(left = nl, right = nr))
  }
}

object GraftExtensions {
  /** Wire graft's planner strategy and optimizer rules into a session
    * being built (SparkSession.Builder.withExtensions callback). */
  def install(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => GraftStrategy)
    e.injectOptimizerRule(_ => AsOfJoinOptimizations)
    e.injectOptimizerRule(_ => LocalPlanFold)
    // SQL DML (UPDATE/DELETE/MERGE) over the store's DSv2 catalog,
    // routed into the transactional Catalog — post-hoc: the commands
    // analyze fine against a read-only DSv2 table and must be swapped
    // out before the optimizer's row-level rewrite rejects them
    e.injectPostHocResolutionRule(s => graft.store.sql.GraftSqlDmlRule(s))
    // maintenance statements (OPTIMIZE / VACUUM) — a delegating parser
    // that intercepts exactly those two shapes (DeltaSqlParser pattern)
    e.injectParser((s, delegate) =>
      new graft.store.sql.GraftSqlParser(s, delegate))
  }
}
