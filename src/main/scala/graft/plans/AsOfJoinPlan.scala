package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.types.{DataType, DateType, IntegerType, LongType, TimestampNTZType, TimestampType}

/** Logical as-of join — the whole-operator custom-plan tier
  * ([[GraftExtensions]] wires the planner strategy and optimizer rules).
  *
  * Spark has no native as-of join: the declarative encodings are either a
  * union + window walk (two passes over the union, state carried through a
  * row_number/last window — the shape `ops.Relational.q_j3` and
  * `ext_feature_pit` use) or an inequality theta-join that Catalyst plans
  * as BroadcastNestedLoopJoin (O(left x right) — unusable at scale). This
  * node gives the semantics a first-class physical form instead:
  * [[AsOfJoinExec]] co-partitions both sides on the equi-keys, sorts each
  * side once by (key, time), and resolves every left row with a single
  * streaming two-pointer walk — O(1) state beyond one candidate row, no
  * union, no window, no per-row probe.
  *
  * Semantics (LEFT OUTER, the pandas `merge_asof` / DuckDB `ASOF LEFT
  * JOIN` contract): for every left row, the single right row with equal
  * keys and the LARGEST right time <= left time (`forward = false`), or
  * the SMALLEST right time >= left time (`forward = true`), optionally
  * within `tolerance` time units; unmatched left rows emit null right
  * columns. NULL keys or a NULL left time never match (equi-join NULL
  * rule); NULL right times are skipped. Ties — two right rows with equal
  * (key, time) — are resolved by sort adjacency and are NOT deterministic
  * across runs: callers must dedup the right side to unique (key, time)
  * first (the gate rows do; a feature store snapshots one row per
  * entity-time by construction).
  *
  * 100 TB shape: one shuffle per side (both clustered on the equi-keys,
  * key-compatible so AQE coalesces them together), one sort per side, then
  * a single forward pass per partition. Skewed entities behave exactly
  * like a skewed sort-merge join and respond to the same AQE skew
  * handling. Time is compared in the column's native physical unit
  * (micros for TIMESTAMP, days for DATE, raw value for integral columns) —
  * `tolerance` is expressed in that unit.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    tolerance: Option[Long],
    forward: Boolean,
    /** Some(true)/Some(false) pins the broadcast/shuffle variant; None
      * lets the planner decide from right-side stats vs
      * `spark.sql.autoBroadcastJoinThreshold` (the SMJ-vs-BHJ rule). */
    broadcastRight: Option[Boolean] = None) extends BinaryNode {

  require(leftKeys.size == rightKeys.size && leftKeys.nonEmpty,
    "as-of join needs at least one equi-key pair")
  require(tolerance.forall(_ >= 0), "as-of tolerance must be >= 0")

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  /** Attributes the join itself consumes — what column pruning must keep
    * in the children even when the parent projects them away. */
  def joinReferences: AttributeSet =
    AttributeSet((leftKeys ++ rightKeys :+ leftTime :+ rightTime)
      .flatMap(_.references))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinPlan {
  /** Time-column types the physical walk can order and subtract. */
  def supportedTimeType(t: DataType): Boolean = t match {
    case TimestampType | TimestampNTZType | LongType | IntegerType |
        DateType => true
    case _ => false
  }
}

/** Public construction API (column names resolve against each side's
  * analyzed plan, so the same physical columns may carry different names
  * on the two sides). */
object AsOf {

  /** `left` as-of-joins `right` on equal `keys` (left-name -> right-name)
    * picking per left row the latest right row at-or-before `leftTime`
    * (or earliest at-or-after, with `forward = true`), optionally within
    * `tolerance` native time units. LEFT OUTER: unmatched left rows keep
    * null right columns.
    */
  def join(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[(String, String)],
      leftTime: String,
      rightTime: String,
      tolerance: Option[Long] = None,
      forward: Boolean = false,
      /** Some(true)/Some(false) pins broadcast/co-partitioned; None =
        * planner decides from right-side stats (the SMJ-vs-BHJ rule). */
      broadcastRight: Option[Boolean] = None,
      /** Hot-key rescue (see [[SkewSalt]]): split every left key across
        * `s` salt buckets (right side replicated `s`x), bounding a hot
        * key's per-task left rows at ~1/s. Defaults to the
        * `spark.graft.join.skewSalt` session conf (absent = `auto`:
        * census-driven detection, round 14); ignored when the caller
        * pinned the broadcast variant (no shuffle, no skew). */
      skewSalt: Option[Int] = None): DataFrame = {
    // a join the planner would broadcast has no shuffle to rescue —
    // neither the session conf, an unpinned request, nor auto-detection
    // may defeat the broadcast fast path (or pay a census for it);
    // Some(false) pins the shuffle path and salting applies
    val saltable = !broadcastRight.contains(true) &&
      !(broadcastRight.isEmpty && SkewSalt.plannerWouldBroadcast(right))
    val salt =
      if (saltable) SkewSalt.resolve(skewSalt, left, keys.map(_._1))
      else None
    salt match {
      case Some(s) =>
        joinUnsalted(
          SkewSalt.saltLeft(left, leftTime, s),
          SkewSalt.replicateRight(right, s),
          keys :+ (SkewSalt.LeftCol -> SkewSalt.RightCol),
          leftTime, rightTime, tolerance, forward,
          // salting exists to fix the co-partitioned walk; pin it so the
          // planner cannot waste the s-times replication on a broadcast
          broadcastRight = Some(false))
          .drop(SkewSalt.LeftCol, SkewSalt.RightCol)
      case None => joinUnsalted(left, right, keys, leftTime, rightTime,
        tolerance, forward, broadcastRight)
    }
  }

  private def joinUnsalted(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[(String, String)],
      leftTime: String,
      rightTime: String,
      tolerance: Option[Long],
      forward: Boolean,
      broadcastRight: Option[Boolean]): DataFrame = {
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    def resolve(p: LogicalPlan, n: String, side: String): Attribute =
      p.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"as-of join: no column '$n' on the $side side " +
          s"(have: ${p.output.map(_.name).mkString(", ")})"))
    val lt = resolve(lp, leftTime, "left")
    val rt = resolve(rp, rightTime, "right")
    require(AsOfJoinPlan.supportedTimeType(lt.dataType) &&
      rt.dataType == lt.dataType,
      s"as-of time columns must share a supported type " +
        s"(timestamp/date/long/int); got ${lt.dataType} vs ${rt.dataType}")
    val (lks, rks) = keys.map { case (ln, rn) =>
      val lk = resolve(lp, ln, "left"); val rk = resolve(rp, rn, "right")
      require(lk.dataType == rk.dataType,
        s"as-of key type mismatch: $ln ${lk.dataType} vs $rn ${rk.dataType}")
      (lk, rk)
    }.unzip
    val plan = AsOfJoinPlan(lp, rp, lks, rks, lt, rt, tolerance, forward,
      broadcastRight)
    // Dataset.ofRows is private[sql]; GraftSqlShim is the one-line bridge
    // (every graft session is a local classic session — core.Sessions).
    org.apache.spark.sql.GraftSqlShim.ofRows(left.sparkSession, plan)
  }
}
