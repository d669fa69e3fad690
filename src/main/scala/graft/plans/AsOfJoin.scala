package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftPlanBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute,
  Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.LongType

/** Native as-of join — the whole-operator custom tier (SURVEY §7 build
  * plan, option (c)): a LogicalPlan node, a planner strategy, and a
  * physical merge exec, installed by `graft.GraftExtensions` (or by
  * `graft.GraftSession.ensure` on a session built without it).
  *
  * Semantics: left-outer point-in-time enrichment. For every left row,
  * emit the single LATEST right row with the same key whose time is
  * STRICTLY before the left row's time (ties in right time broken by the
  * caller's tie-break columns, last one wins); unmatched left rows emit
  * nulls. This is `pandas.merge_asof(direction='backward',
  * allow_exact_matches=False)` — a semantic Spark's relational algebra
  * cannot express as one operator: the usual encodings are a union +
  * IGNORE NULLS window (shuffles left+right TOGETHER and carries every
  * left column through the window sort — see j06) or an inequality join +
  * per-left-row ranking (builds all O(matches) pairs before discarding
  * all but one).
  *
  * Physical design, and why it scales: both children are required to be
  * hash-CO-PARTITIONED on the key (ClusteredDistribution pair, exactly a
  * shuffled join's contract) and SORTED by (key, time) — Catalyst/AQE
  * insert the minimal exchanges and sorts, reusing any that already
  * exist. Each partition pair then merges in ONE forward pass holding
  * exactly one buffered right row as state: O(|L|+|R|) per partition,
  * zero pair blow-up, no window over the concatenation. At 100 TB this
  * is two ordinary shuffles (or none, if both sides are already bucketed
  * by key) and a streaming merge.
  *
  * Time columns must be LongType — epoch micros by the engine's oracle
  * convention (see w08); null keys and null times never match, matching
  * SQL join-null semantics.
  */
final case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTieBreak: Seq[Expression],
    direction: String = "backward",
    toleranceUs: Option[Long] = None) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] as [[AsOfJoinExec]]; a no-op on every other node. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, tb, dir, tol) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, tb, dir, tol) :: Nil
    case _ => Nil
  }
}

final case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTieBreak: Seq[Expression],
    direction: String = "backward",
    toleranceUs: Option[Long] = None) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // the shuffled-join contract: co-partition both children on the key
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  private def asc(es: Seq[Expression]): Seq[SortOrder] =
    es.map(e => SortOrder(e, Ascending))

  // left: (key, time); right: (key, time, tie-break) — the tie-break
  // makes "latest" total, so the merge is deterministic under any
  // physical row order
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(asc(leftKeys :+ leftTime), asc(rightKeys ++ (rightTime +: rightTieBreak)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = asc(leftKeys :+ leftTime)

  protected override def doExecute(): RDD[InternalRow] = {
    val leftOut = left.output
    val rightOut = right.output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTimeExpr = leftTime
    val rTimeExpr = rightTime
    val keyTypes = leftKeys.map(_.dataType)
    val outAttrs = output
    val nRight = rightOut.size
    val fwd = direction == "forward"
    val tol = toleranceUs
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, leftOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rightOut)
      val lTimeProj = UnsafeProjection.create(Seq(lTimeExpr), leftOut)
      val rTimeProj = UnsafeProjection.create(Seq(rTimeExpr), rightOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(nRight)
      val rBuf = rIter.buffered
      // the operator's whole per-partition state: the best match so far
      // for the key currently being merged (backward mode only)
      var bestRow: InternalRow = null
      var bestKey: UnsafeRow = null
      var bestTime: Long = Long.MinValue
      lIter.map { lrow =>
        val lkey = lKeyProj(lrow)
        val ltRow = lTimeProj(lrow)
        if (lkey.anyNull || ltRow.isNullAt(0)) {
          resultProj(joined(lrow, nullRight))
        } else {
          val lt = ltRow.getLong(0)
          if (fwd) {
            // FORWARD: answer = first right row (in (key, time, tie)
            // order) with rt STRICTLY after lt. Rows at rt <= lt are
            // unmatchable for every later left row too (left is sorted
            // by (key, time)), so consuming them is safe; the answer row
            // itself is only PEEKED — the next left row with the same
            // key may share it.
            var scan = true
            while (scan && rBuf.hasNext) {
              val rk = rKeyProj(rBuf.head)
              if (rk.anyNull) { rBuf.next() }
              else {
                val c = keyOrd.compare(rk, lkey)
                if (c < 0) rBuf.next()
                else if (c > 0) scan = false
                else {
                  val rtRow = rTimeProj(rBuf.head)
                  if (rtRow.isNullAt(0)) rBuf.next()
                  else if (rtRow.getLong(0) <= lt) rBuf.next()
                  else scan = false // head IS the forward candidate
                }
              }
            }
            val cand =
              if (rBuf.hasNext) {
                val rk = rKeyProj(rBuf.head)
                if (!rk.anyNull && keyOrd.compare(rk, lkey) == 0) {
                  val rt = rTimeProj(rBuf.head).getLong(0)
                  if (tol.forall(t => rt - lt <= t)) rBuf.head else null
                } else null
              } else null
            resultProj(joined(lrow, if (cand != null) cand else nullRight))
          } else {
            var scan = true
            while (scan && rBuf.hasNext) {
              val rk = rKeyProj(rBuf.head)
              if (rk.anyNull) { rBuf.next() } // null key never matches
              else {
                val c = keyOrd.compare(rk, lkey)
                if (c < 0) rBuf.next()        // keys already merged past
                else if (c > 0) scan = false  // right is ahead: no more candidates
                else {
                  val rtRow = rTimeProj(rBuf.head)
                  if (rtRow.isNullAt(0)) rBuf.next() // null time never matches
                  else if (rtRow.getLong(0) < lt) {
                    // still strictly before the left row: the sort order
                    // makes each later candidate the better one
                    bestKey = rk.copy()
                    bestTime = rtRow.getLong(0)
                    bestRow = rBuf.next().copy()
                  } else scan = false
                }
              }
            }
            val matched = bestRow != null && keyOrd.compare(bestKey, lkey) == 0 &&
              tol.forall(t => lt - bestTime <= t)
            resultProj(joined(lrow, if (matched) bestRow else nullRight))
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Public API: `AsOfJoin.asof(left, right, ...)`. Sessions built with
  * `graft.GraftExtensions` plan the node through the injected strategy;
  * for any other session `asof` first runs `graft.GraftSession.ensure`,
  * which adds the strategy once.
  */
object AsOfJoin {

  /** Left-outer as-of join of `right` onto `left`. Time columns must be
    * LongType (epoch micros). `rightTieBreak` totalizes the order among
    * right rows sharing (key, time) — required for determinism.
    *
    * `direction = "backward"` (default): latest right row per key
    * STRICTLY before each left row's time — with the tie-break sort,
    * the LAST row at the matched instant wins. `direction = "forward"`:
    * earliest right row STRICTLY after — the FIRST row at the matched
    * instant wins. `toleranceUs` bounds the |time gap|: a candidate
    * farther than the tolerance yields a null match instead (pandas
    * merge_asof's `tolerance`). Both variants keep the one-buffered-row
    * merge: O(|L|+|R|) per co-partition, no pair blow-up.
    */
  def asof(
      left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftTimeCol: String, rightTimeCol: String,
      rightTieBreak: Seq[String],
      direction: String = "backward",
      toleranceUs: Option[Long] = None): DataFrame = {
    require(leftKeys.nonEmpty && leftKeys.size == rightKeys.size,
      "as-of join needs one or more equi-keys, matched pairwise")
    require(direction == "backward" || direction == "forward",
      s"as-of direction must be backward|forward, got $direction")
    require(toleranceUs.forall(_ >= 0), "as-of tolerance must be >= 0 micros")
    val spark = left.sparkSession
    graft.GraftSession.ensure(spark)
    val lPlan = left.queryExecution.analyzed
    // re-alias every right attribute: a self-as-of (right derived from
    // left) would otherwise carry duplicate expression ids across the
    // two children — the analyzer dedups Join, not custom nodes
    val rAnalyzed = right.queryExecution.analyzed
    val rAliases = rAnalyzed.output.map(a => Alias(a, a.name)())
    val rPlan = Project(rAliases, rAnalyzed)
    def resolveL(n: String): Attribute = lPlan.output.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(s"left column $n not found"))
    def resolveR(n: String): Attribute = rPlan.output.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(s"right column $n not found"))
    val lt = resolveL(leftTimeCol)
    val rt = resolveR(rightTimeCol)
    require(lt.dataType == LongType && rt.dataType == LongType,
      s"as-of time columns must be LongType epoch micros, got ${lt.dataType}/${rt.dataType}")
    leftKeys.zip(rightKeys).foreach { case (l, r) =>
      require(resolveL(l).dataType == resolveR(r).dataType,
        s"key type mismatch: $l is ${resolveL(l).dataType}, $r is ${resolveR(r).dataType}")
    }
    GraftPlanBridge.ofRows(spark, AsOfJoinPlan(
      lPlan, rPlan,
      leftKeys.map(resolveL), rightKeys.map(resolveR),
      lt, rt, rightTieBreak.map(resolveR), direction, toleranceUs))
  }
}
