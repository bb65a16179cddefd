package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.types.{DataType, DateType, DoubleType, IntegerType, LongType, TimestampNTZType, TimestampType}

/** Sorted-merge as-of join exec: both children hash-clustered on the key
  * (the SortMergeJoin distribution contract, so EnsureRequirements
  * co-partitions them) and sorted by (key, ts); one forward pass zips the
  * partitions. Per probe row the build iterator advances past every row
  * with smaller key or (same key, ts ≤ probe ts), remembering the LAST
  * same-key candidate — because probes ascend, the build cursor never moves
  * back, and the only retained state is one projected build row. Where the
  * cursor stops on the same key, the buffered head is the first build row
  * AFTER the probe: the `Nearest` direction takes it when its gap is
  * strictly smaller than the backward one's (ties backward), comparing
  * gaps in the ts column's physical value ([[AsOfJoinExec.backWins]]).
  * The head is not consumed, so the next probe still sees it.
  *
  * Null semantics (locked by AsOfExecSpec): a probe with NULL key or ts
  * null-extends without consuming build rows; build rows with NULL key or
  * ts are skipped. Both sort NULLS FIRST, so the skips sit at the front of
  * each run and the merge invariant (monotone cursors) holds.
  */
case class AsOfJoinExec(probeKey: Attribute, probeTs: Attribute,
                        buildKey: Attribute, buildTs: Attribute,
                        valueAttrs: Seq[Attribute],
                        direction: AsOfDirection,
                        left: SparkPlan, right: SparkPlan)
    extends BinaryExecNode {

  // the default direction prints nothing, so backward plans read as they
  // did before the node had a direction
  override protected def stringArgs: Iterator[Any] =
    super.stringArgs.filter(_ != AsOfDirection.Backward)

  override def output: Seq[Attribute] =
    left.output ++ valueAttrs.map(_.withNullability(true))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(probeKey)) ::
      ClusteredDistribution(Seq(buildKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(probeKey, Ascending), SortOrder(probeTs, Ascending)),
      Seq(SortOrder(buildKey, Ascending), SortOrder(buildTs, Ascending)))

  // probe rows stream through in input order
  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(probeKey, Ascending), SortOrder(probeTs, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val pkIdx = left.output.indexWhere(_.exprId == probeKey.exprId)
    val ptIdx = left.output.indexWhere(_.exprId == probeTs.exprId)
    val bkIdx = right.output.indexWhere(_.exprId == buildKey.exprId)
    val btIdx = right.output.indexWhere(_.exprId == buildTs.exprId)
    require(pkIdx >= 0 && ptIdx >= 0 && bkIdx >= 0 && btIdx >= 0,
      "as-of attributes must come from the children")
    val keyType = probeKey.dataType
    val tsType = probeTs.dataType
    val leftOut = left.output
    val rightOut = right.output
    val vals = valueAttrs
    val outAttrs = output
    // Some(gap comparison) iff the forward candidate competes
    val nearest =
      if (direction == AsOfDirection.Nearest) AsOfJoinExec.backWins.lift(tsType)
      else None
    left.execute().zipPartitions(right.execute()) { (pIt, bIt) =>
      val keyOrd = TypeUtils.getInterpretedOrdering(keyType)
      val tsOrd = TypeUtils.getInterpretedOrdering(tsType)
      val valueProj = UnsafeProjection.create(vals, rightOut)
      // value slots read as nullable: a non-nullable build column still
      // null-extends an unmatched probe (nullVals), never reads as 0
      val resultProj = UnsafeProjection.create(outAttrs,
        leftOut ++ vals.map(_.withNullability(true)))
      val joined = new JoinedRow
      val nullVals = new GenericInternalRow(vals.length)
      val bBuf = bIt.buffered
      var haveKey = false
      var curKey: Any = null
      var lastMatch: InternalRow = null
      var lastTs: Any = null
      new Iterator[InternalRow] {
        override def hasNext: Boolean = pIt.hasNext
        override def next(): InternalRow = {
          val p = pIt.next()
          if (p.isNullAt(pkIdx) || p.isNullAt(ptIdx))
            resultProj(joined(p, nullVals))
          else {
            val pk = p.get(pkIdx, keyType)
            val pt = p.get(ptIdx, tsType)
            if (!haveKey || keyOrd.compare(pk, curKey) != 0) {
              haveKey = true
              curKey = InternalRow.copyValue(pk)
              lastMatch = null
            }
            var ahead: InternalRow = null // same-key head past the probe
            var aheadTs: Any = null
            var done = false
            while (!done && bBuf.hasNext) {
              val b = bBuf.head
              if (b.isNullAt(bkIdx)) { bBuf.next(); () }
              else {
                val c = keyOrd.compare(b.get(bkIdx, keyType), pk)
                if (c < 0) { bBuf.next(); () }
                else if (c == 0) {
                  if (b.isNullAt(btIdx)) { bBuf.next(); () }
                  else {
                    val bt = b.get(btIdx, tsType)
                    if (tsOrd.compare(bt, pt) <= 0) {
                      lastMatch = valueProj(b).copy()
                      lastTs = bt
                      bBuf.next()
                    } else { ahead = b; aheadTs = bt; done = true }
                  }
                } else done = true
              }
            }
            val pick =
              if ((ahead ne null) && nearest.exists(backWins =>
                  (lastMatch eq null) || !backWins(lastTs, pt, aheadTs)))
                valueProj(ahead)
              else if (lastMatch ne null) lastMatch
              else nullVals
            resultProj(joined(p, pick))
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinExec {

  /** (backward ts, probe ts, forward ts) => the backward gap is no larger
    * than the forward one, in the ts type's physical value (ints widen to
    * long). Both gaps are non-negative, so their wrapped long differences
    * compare exactly as unsigned. */
  val backWins: PartialFunction[DataType, (Any, Any, Any) => Boolean] = {
    case LongType | TimestampType | TimestampNTZType => (b, p, f) =>
      longBackWins(b.asInstanceOf[Long], p.asInstanceOf[Long], f.asInstanceOf[Long])
    case IntegerType | DateType => (b, p, f) =>
      longBackWins(b.asInstanceOf[Int], p.asInstanceOf[Int], f.asInstanceOf[Int])
    case DoubleType => (b, p, f) =>
      p.asInstanceOf[Double] - b.asInstanceOf[Double] <=
        f.asInstanceOf[Double] - p.asInstanceOf[Double]
  }

  private def longBackWins(b: Long, p: Long, f: Long): Boolean =
    java.lang.Long.compareUnsigned(p - b, f - p) <= 0
}
