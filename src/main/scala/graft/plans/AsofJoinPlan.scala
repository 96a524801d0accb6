package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, Expression, GenericInternalRow, JoinedRow,
  RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native as-of join — the whole-operator Catalyst extension tier
  * (SURVEY §4.3 preference order (c): LogicalPlan + SparkStrategy +
  * SparkPlan) for the one relational operator Spark genuinely lacks.
  *
  * Semantics: for every left row, attach the LAST right row with the
  * same key whose time is ≤ the left row's time (left outer — unmatched
  * left rows carry nulls). The union+window formulation
  * (ops/Relational.qJoinAsof) expresses the same thing relationally;
  * this operator is the direct plan: both sides hash-clustered on the
  * key and sorted by (key, time) — requirements Catalyst's
  * EnsureRequirements satisfies with ordinary exchanges — then ONE
  * streaming merge pass per partition holding exactly one buffered
  * right row. No candidate-pair blowup on hot keys, no window
  * materialization: state per partition is O(1), so the operator
  * scales to any key cardinality the shuffle itself can hold.
  */
case class AsofJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    broadcastRight: Option[Boolean] = None) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoin =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy with broadcast costing: a dim-sized right side is
  * broadcast (no shuffle of the big left side AT ALL — the dominant
  * cost at 100 TB when the right side is reference data); otherwise the
  * co-clustered sort-merge form. The choice follows the same
  * autoBroadcastJoinThreshold the built-in joins use, overridable with
  * an explicit hint on the logical node. Installed on a session by
  * `GraftExtensions` (the extension, or `install` from
  * `Tables.configure`). */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoin(l, r, lk, rk, lt, rt, hint) =>
      val threshold =
        org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
      val bcast = hint.getOrElse(
        threshold > 0 && r.stats.sizeInBytes <= threshold)
      if (bcast) {
        BroadcastAsofJoinExec(planLater(l), planLater(r), lk, rk, lt, rt) :: Nil
      } else {
        AsofJoinExec(planLater(l), planLater(r), lk, rk, lt, rt) :: Nil
      }
    case _ => Nil
  }
}

/** Sort-merge as-of execution: requires co-clustered inputs sorted by
  * (key, time); per partition a single forward pass joins each left row
  * to the latest preceding right row. */
case class AsofJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  protected override def doExecute(): RDD[InternalRow] = {
    val leftOut = left.output
    val rightOut = right.output
    val lk = leftKey
    val rk = rightKey
    val lt = leftTime
    val rt = rightTime
    // the (key, time) schema both sides project to — comparisons are
    // codegen'd over these two columns, never boxed scalars
    val ktTypes = Seq(lk.dataType, lt.dataType)
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // per-partition projections and generated orderings (codegen'd
      // evaluators are not thread-safe across partitions, and generated
      // classes must be instantiated executor-side)
      val lKT = UnsafeProjection.create(Seq(lk, lt), leftOut)
      val rKT = UnsafeProjection.create(Seq(rk, rt), rightOut)
      // lexicographic (key, time) and key-only compares on the packed
      // UnsafeRow: primitive accessors in generated code, no boxing
      val ktOrd = RowOrdering.createNaturalAscendingOrdering(ktTypes)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(ktTypes.take(1))
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)
      val nullRight = new GenericInternalRow(rightOut.size)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        // the ONLY buffered state: the latest right row seen, + its
        // packed (key, time)
        private var lastRight: InternalRow = _
        private var lastRightKT: UnsafeRow = _
        private var rHead: InternalRow = _
        private var rHeadKT: UnsafeRow = _

        // Null semantics (matches left-outer equi-join): a right row
        // with a null key or time can never be "the latest ≤ t" for any
        // left row, so it is dropped here; null-key/time LEFT rows pass
        // through with a null right side (handled in next()). Spark
        // sorts nulls FIRST under Ascending, so skipping them keeps the
        // merge invariant intact.
        private def advanceHead(): Unit = {
          rHead = null
          while (rHead == null && rIter.hasNext) {
            val cand = rIter.next()
            val kt = rKT(cand)
            if (!kt.isNullAt(0) && !kt.isNullAt(1)) {
              rHead = cand
              // the projection reuses its buffer; copy the packed row
              rHeadKT = kt.copy()
            }
          }
        }

        advanceHead()

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val kt = lKT(l)
          if (kt.isNullAt(0) || kt.isNullAt(1)) {
            // no key/time → nothing can precede it; left-outer nulls.
            // Null left rows sort first, so not advancing rHead here
            // preserves the merge position for later non-null rows.
            return outProj(joined(l, nullRight))
          }
          // consume right rows at-or-before the current left position:
          // (rk, rt) ≤lex (lk, lt) ⇔ rk < lk ∨ (rk = lk ∧ rt ≤ lt)
          while (rHead != null && ktOrd.compare(rHeadKT, kt) <= 0) {
            lastRight = rHead.copy()
            lastRightKT = rHeadKT
            advanceHead()
          }
          val matched = lastRight != null &&
            keyOrd.compare(lastRightKT, kt) == 0
          outProj(joined(l, if (matched) lastRight else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Broadcast as-of execution: the right side arrives whole at every
  * task (EnsureRequirements inserts the BroadcastExchange), is indexed
  * once per partition as key → time-sorted rows, and the left side
  * streams through UNSHUFFLED and UNSORTED — each row answered by a
  * hash probe + binary search for the latest time ≤ its own. Left
  * partitioning/ordering are preserved, so downstream operators keep
  * whatever distribution the scan produced. */
case class BroadcastAsofJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution ::
      org.apache.spark.sql.catalyst.plans.physical.BroadcastDistribution(
        org.apache.spark.sql.catalyst.plans.physical.IdentityBroadcastMode) ::
      Nil

  override def outputPartitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  protected override def doExecute(): RDD[InternalRow] = {
    val leftOut = left.output
    val rightOut = right.output
    val lk = leftKey
    val rk = rightKey
    val lt = leftTime
    val rt = rightTime
    val tTypes = Seq(lt.dataType)
    val outAttrs = output
    val broadcastRows = right.executeBroadcast[Array[InternalRow]]()
    left.execute().mapPartitions { lIter =>
      val lKeyProj = UnsafeProjection.create(Seq(lk), leftOut)
      val lTimeProj = UnsafeProjection.create(Seq(lt), leftOut)
      val rKeyProj = UnsafeProjection.create(Seq(rk), rightOut)
      val rTimeProj = UnsafeProjection.create(Seq(rt), rightOut)
      // generated single-column comparator — primitive time compares
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(tTypes)
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)
      val nullRight = new GenericInternalRow(rightOut.size)
      val joined = new JoinedRow
      // per-partition index: packed UnsafeRow key → time-sorted rows.
      // UnsafeRow equality/hashCode are byte-wise (the same trick
      // Spark's own hash joins use), so probes never box the key.
      val index =
        new java.util.HashMap[UnsafeRow, Array[(UnsafeRow, InternalRow)]]()
      locally {
        val tmp = new java.util.HashMap[UnsafeRow,
          scala.collection.mutable.ArrayBuffer[(UnsafeRow, InternalRow)]]()
        broadcastRows.value.foreach { r =>
          val k = rKeyProj(r)
          val t = rTimeProj(r)
          // null-key/time right rows can never match any probe — drop
          // (same semantics as the sort-merge exec's advanceHead)
          if (!k.isNullAt(0) && !t.isNullAt(0)) {
            var buf = tmp.get(k)
            if (buf == null) {
              buf = scala.collection.mutable.ArrayBuffer.empty
              tmp.put(k.copy(), buf) // copy only on first sight of a key
            }
            buf += ((t.copy(), r))
          }
        }
        tmp.forEach { (k, buf) =>
          index.put(k, buf.sortInPlace()(
            Ordering.by[(UnsafeRow, InternalRow), InternalRow](_._1)(
              timeOrd)).toArray)
        }
      }
      lIter.map { l =>
        val k = lKeyProj(l)
        val t = lTimeProj(l)
        // null key/time probes match nothing (left-outer nulls)
        val arr =
          if (k.isNullAt(0) || t.isNullAt(0)) null else index.get(k)
        var best: InternalRow = null
        if (arr != null) {
          // rightmost entry with time <= t
          var lo = 0
          var hi = arr.length - 1
          while (lo <= hi) {
            val mid = (lo + hi) >>> 1
            if (timeOrd.compare(arr(mid)._1, t) <= 0) {
              best = arr(mid)._2; lo = mid + 1
            } else hi = mid - 1
          }
        }
        outProj(joined(l, if (best != null) best else nullRight))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastAsofJoinExec =
    copy(left = newLeft, right = newRight)
}
