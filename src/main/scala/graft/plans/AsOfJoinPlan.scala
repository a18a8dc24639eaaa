package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** WHOLE-OPERATOR extension path (SURVEY §2b preference tier (c)): a custom
  * logical node + planner strategy + physical operator for the AS-OF join —
  * the one relational operator the engine needs that Spark's built-in
  * operator set cannot express as a single exec.
  *
  * Semantics: for each left row, attach the LATEST right row with the same
  * key and `rightTime <= leftTime` (inclusive — DuckDB `ASOF JOIN ... ON
  * l.t >= r.t` semantics), or nulls when none exists (LEFT OUTER flavor).
  * Rows whose key or time is NULL never match (SQL equality semantics).
  * When several right rows share one (key, time), the one sorting last
  * under the physical (key, time) sort wins — callers who need total
  * determinism dedupe the right side per (key, time) first, exactly as the
  * window-composition operator ([[graft.operators.AsOf.asofJoin]]) already
  * requires.
  *
  * Why a physical operator beats the union + carry-forward window
  * composition at scale: the window plan UNIONS both sides into one
  * buffer, sorts the combined stream, and pays the window operator's
  * running-state machinery over every row; this exec declares
  * `ClusteredDistribution` on each side's key and a per-partition
  * (key, time) sort — so Catalyst plans one hash exchange PER SIDE (the
  * fact side never carries the dimension rows through its shuffle) — and
  * then streams BOTH sorted sides through a single O(n+m) merge with ONE
  * buffered right row of state. Same shuffle count, strictly less data
  * movement (sides shuffle separately), no sort-buffer union, no window
  * frame evaluation.
  *
  * Deployment: [[graft.GraftFunctions.register]] adds [[AsOfJoinStrategy]]
  * to the session's experimental strategies; [[graft.GraftExtensions]]
  * injects it cluster-wide.
  */
case class AsOfJoinNode(left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(newLeft: LogicalPlan,
      newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinNode]] → [[AsOfJoinExec]]; a no-op on everything else. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsOfJoinNode =>
      AsOfJoinExec(j.leftKey, j.rightKey, j.leftTime, j.rightTime,
        planLater(j.left), planLater(j.right)) :: Nil
    case _ => Nil
  }
}

/** Sorted-merge AS-OF join exec.
  *
  * Required properties (EnsureRequirements inserts the exchanges/sorts):
  * each child hash-clustered on its key and sorted by (key, time) — the
  * SortMergeJoin contract, reused verbatim, so AQE, reused exchanges, and
  * co-partitioning all apply unchanged. Per partition, one forward merge:
  * the right cursor advances while `rKey < lKey || (rKey == lKey && rTime
  * <= lTime)`, remembering only the latest consumed right row; each left
  * row emits joined with that row when its key still matches, else
  * null-extended. State per partition is ONE buffered right row —
  * independent of key group size, which is what the window composition
  * cannot promise (its frame state is managed per-sort-run by the window
  * exec). Not codegen'd: a two-cursor merge has no row-at-a-time produce()
  * shape; the sort/exchange children still codegen normally.
  */
case class AsOfJoinExec(leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, org.apache.spark.sql.catalyst.expressions.Ascending),
      SortOrder(leftTime, org.apache.spark.sql.catalyst.expressions.Ascending)),
    Seq(SortOrder(rightKey, org.apache.spark.sql.catalyst.expressions.Ascending),
      SortOrder(rightTime, org.apache.spark.sql.catalyst.expressions.Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def withNewChildrenInternal(newLeft: SparkPlan,
      newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyB = BindReferences.bindReference(leftKey, left.output)
    val lTimeB = BindReferences.bindReference(leftTime, left.output)
    val rKeyB = BindReferences.bindReference(rightKey, right.output)
    val rTimeB = BindReferences.bindReference(rightTime, right.output)
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    val out = output
    val rightWidth = right.output.size
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val resultProj = UnsafeProjection.create(out, out)
      val nullRight = new GenericInternalRow(rightWidth)
      val joined = new JoinedRow
      // ONE buffered right row: the latest consumed (copied — iterators
      // reuse their UnsafeRow)
      var bufKey: Any = null
      var bufRow: InternalRow = null
      var rHead: InternalRow = null
      def advanceRightHead(): Unit = {
        rHead = null
        while (rHead == null && rIter.hasNext) {
          val r = rIter.next()
          // null key/time rows sort first and can never match: skip
          if (rKeyB.eval(r) != null && rTimeB.eval(r) != null) rHead = r
        }
      }
      advanceRightHead()
      lIter.map { l =>
        val lk = lKeyB.eval(l)
        val lt = lTimeB.eval(l)
        if (lk == null || lt == null) {
          resultProj(joined(l, nullRight))
        } else {
          // consume right rows at or before (lk, lt)
          var continue = rHead != null
          while (continue) {
            val rk = rKeyB.eval(rHead)
            val ck = keyOrd.compare(rk.asInstanceOf[AnyRef],
              lk.asInstanceOf[AnyRef])
            if (ck < 0 ||
              (ck == 0 && timeOrd.compare(
                rTimeB.eval(rHead).asInstanceOf[AnyRef],
                lt.asInstanceOf[AnyRef]) <= 0)) {
              bufKey = rk
              bufRow = rHead.copy()
              advanceRightHead()
              continue = rHead != null
            } else continue = false
          }
          val matches = bufRow != null &&
            keyOrd.compare(bufKey.asInstanceOf[AnyRef],
              lk.asInstanceOf[AnyRef]) == 0
          resultProj(joined(l, if (matches) bufRow else nullRight))
        }
      }
    }
  }
}
