package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType}

/** As-of (point-in-time) merge: for every left (label) row, the single right
  * (feature) row with the greatest `(ts, value)` among rows of the same
  * entity with `feature.ts <= label.ts` — the feature-store PIT join
  * (reference tsquery.go:191-350) as a first-class operator.
  *
  * Why a custom node (SURVEY §7.3's deliberate stretch, the one plan-quality
  * gap the round-3 verdict left open): the declarative forms both have a
  * scale cliff on skewed entities —
  *  - the join shape (`JoinWindow`) materializes |labels| × |history| rows
  *    per entity before ROW_NUMBER prunes them: an entity with 10⁶ labels ×
  *    10⁶ events is 10¹² intermediate rows;
  *  - the union-window shape (`UnionWindow`) is linear, but `WindowExec`
  *    BUFFERS each entity partition in an ExternalAppendOnlyUnsafeRowArray
  *    (spilling past 4096 rows) because a general window cannot know the
  *    frame is running — a hot entity's history pays a full
  *    buffer-and-spill cycle, and every label column rides the union
  *    through the window sort.
  *
  * This operator is the shape a feature store actually wants: both children
  * hash-clustered on entity and sorted within partitions — label by
  * (entity, ts), features by (entity, ts, value) — then ONE streaming merge
  * pass per partition holding exactly one buffered feature value (the
  * running "latest") regardless of history length. No window buffer, no
  * candidate blow-up, no second join to re-attach results: output = left
  * row + picked value, ordering preserved.
  *
  * Tie/NULL semantics are pinned to the UnionWindow form (agreement-tested):
  *  - inclusive `feature.ts <= label.ts`; ties on ts pick the max value
  *    (the within-partition sort on (ts, value) makes the last consumed row
  *    the max — the operator never compares values itself);
  *  - NULL sorts first (Spark default asc): a NULL-ts feature row is an
  *    epoch⁻∞ constant, visible to every label of its entity; a NULL-ts
  *    label sees only NULL-ts features;
  *  - NULL entities group together (window-partition semantics; the
  *    training-set builder's outer join discards them either way).
  */
final case class AsOfMerge(
    left: LogicalPlan,
    right: LogicalPlan,
    leftEntity: Attribute,
    leftTs: Attribute,
    rightEntity: Attribute,
    rightTs: Attribute,
    rightValue: Attribute) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output :+ rightValue.withNullability(true)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfMerge =
    copy(left = newLeft, right = newRight)
}

/** Point-in-time trailing-window COUNT/SUM: for every distinct left
  * (label) key `(entity, lt)`, the right (event) rows of the same entity
  * with `lt - W <= et < lt` — the label instant excluded, the as-of
  * no-leakage discipline — counted and summed, once per window `W` of a
  * ladder. Both children are clustered on entity and sorted by
  * (entity, ts); one merge pass per partition does the rest (see
  * [[TrailingWindowMergeExec]]).
  *
  * Children: left `(entity, lt)`, right `(entity, et, value)`, with `lt`
  * and `et` as epoch-micros LONG and `value` as DECIMAL(18,2). Output:
  * the left key followed by `aggOutput`: the `et` of the latest event in
  * the widest window (NULL when it is empty), then one (count LONG, sum
  * DECIMAL(28,2)) pair per window, in `windowsMicros` order. Negated
  * micros on both sides turn it into a FORWARD window `(t, t + W]`.
  *
  * NULLs: a label with a NULL entity or ts gets (0, 0); an event with a
  * NULL entity or ts is in no window; a NULL value counts but adds
  * nothing to the sum. */
final case class TrailingWindowMerge(
    left: LogicalPlan,
    right: LogicalPlan,
    leftEntity: Attribute,
    leftTs: Attribute,
    rightEntity: Attribute,
    rightTs: Attribute,
    rightValue: Attribute,
    windowsMicros: Seq[Long],
    aggOutput: Seq[Attribute]) extends BinaryNode {
  override def output: Seq[Attribute] = leftEntity +: leftTs +: aggOutput
  override def producedAttributes: AttributeSet = AttributeSet(aggOutput)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): TrailingWindowMerge =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfMerge]] into [[AsOfMergeExec]] and [[TrailingWindowMerge]]
  * into [[TrailingWindowMergeExec]]. Registered by [[graft.GraftExtensions]]
  * and (idempotently) by [[ensureOn]], so the operators work in sessions
  * built without the extension. */
object AsOfMergeStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfMerge(l, r, le, lt, re, rt, rv) =>
      AsOfMergeExec(le, lt, re, rt, rv, planLater(l), planLater(r)) :: Nil
    case TrailingWindowMerge(l, r, le, lt, re, rt, rv, ws, aggs) =>
      TrailingWindowMergeExec(le, lt, re, rt, rv, ws, aggs,
        planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }

  /** Register this strategy on `spark` unless it is already there. */
  def ensureOn(spark: org.apache.spark.sql.SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.contains(this)) spark.experimental.extraStrategies = cur :+ this
  }
}

/** Physical streaming as-of merge — see [[AsOfMerge]] for semantics.
  *
  * Distribution: children clustered on their entity keys (EnsureRequirements
  * co-partitions them — one hash exchange each at most, none when the child
  * is already partitioned by entity, e.g. a bucketed feature table).
  * Ordering: within-partition sorts (entity, ts) / (entity, ts, value) —
  * planner-inserted SortExecs, which sort ONCE per child; per-entity state
  * in the merge itself is a single copied value row. */
final case class AsOfMergeExec(
    leftEntity: Attribute,
    leftTs: Attribute,
    rightEntity: Attribute,
    rightTs: Attribute,
    rightValue: Attribute,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output :+ rightValue.withNullability(true)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftEntity)) ::
      ClusteredDistribution(Seq(rightEntity)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftEntity, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightEntity, Ascending), SortOrder(rightTs, Ascending),
      SortOrder(rightValue, Ascending)))

  /** One output row per left row, same partition, same order. */
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfMergeExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val eDt = leftEntity.dataType
    val tDt = leftTs.dataType
    val leIdx = left.output.indexWhere(_.exprId == leftEntity.exprId)
    val ltIdx = left.output.indexWhere(_.exprId == leftTs.exprId)
    val reIdx = right.output.indexWhere(_.exprId == rightEntity.exprId)
    val rtIdx = right.output.indexWhere(_.exprId == rightTs.exprId)
    require(leIdx >= 0 && ltIdx >= 0 && reIdx >= 0 && rtIdx >= 0,
      "AsOfMergeExec: key attributes must come from the respective child")
    val rightOut = right.output
    val outAttrs = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val eOrd = TypeUtils.getInterpretedOrdering(eDt)
      val tOrd = TypeUtils.getInterpretedOrdering(tDt)
      // NULL-first comparison (matches the planner-inserted asc sorts)
      def cmpN(a: Any, b: Any, ord: Ordering[Any]): Int =
        if (a == null && b == null) 0
        else if (a == null) -1
        else if (b == null) 1
        else ord.compare(a, b)

      // single-field projections: copyable snapshots of the running value
      // and of the entity that owns it (right rows are reused buffers)
      val vProj = UnsafeProjection.create(Seq(rightValue), rightOut)
      val eProj = UnsafeProjection.create(Seq(rightEntity), rightOut)
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val nullV = new GenericInternalRow(1)

      new Iterator[InternalRow] {
        private var rRow: InternalRow = _       // lookahead feature row
        private var lastV: InternalRow = _      // copied (value) of the running pick
        private var lastE: InternalRow = _      // copied (entity) owning lastV

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val le = l.get(leIdx, eDt)
          val lt = l.get(ltIdx, tDt)
          var done = false
          while (!done) {
            if (rRow == null) {
              if (rIter.hasNext) rRow = rIter.next() else done = true
            }
            if (!done) {
              val ce = cmpN(rRow.get(reIdx, eDt), le, eOrd)
              if (ce < 0) rRow = null // entity with no remaining labels
              else if (ce > 0) done = true
              else if (cmpN(rRow.get(rtIdx, tDt), lt, tOrd) <= 0) {
                // visible: consume as the new running pick for this entity
                lastV = vProj(rRow).copy()
                lastE = eProj(rRow).copy()
                rRow = null
              } else done = true // visible only to later labels
            }
          }
          val valid = lastV != null && lastE != null &&
            cmpN(lastE.get(0, eDt), le, eOrd) == 0
          resultProj(joined(l, if (valid) lastV else nullV))
        }
      }
    }
  }
}

/** Physical trailing-window merge — see [[TrailingWindowMerge]] for
  * semantics. Same distribution and sort contract as [[AsOfMergeExec]]:
  * children clustered on entity (one exchange each at most) and sorted by
  * (entity, ts).
  *
  * One pass per partition. Labels are walked in order, adjacent duplicate
  * keys emitted once. For the current entity a primitive ring buffer holds
  * the (et, unscaled value) of events with `et < lt` still inside the
  * LARGEST window; each window rung keeps one front pointer into the ring
  * and a running 128-bit sum, so advancing to the next label appends the
  * newly visible events and moves each front past the expired ones.
  * Memory is the events of one entity inside the largest window; no
  * label × event pairs, no window-function buffer, no join back to the
  * label keys. */
final case class TrailingWindowMergeExec(
    leftEntity: Attribute,
    leftTs: Attribute,
    rightEntity: Attribute,
    rightTs: Attribute,
    rightValue: Attribute,
    windowsMicros: Seq[Long],
    aggOutput: Seq[Attribute],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = leftEntity +: leftTs +: aggOutput
  override def producedAttributes: AttributeSet = AttributeSet(aggOutput)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftEntity)) ::
      ClusteredDistribution(Seq(rightEntity)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftEntity, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightEntity, Ascending), SortOrder(rightTs, Ascending)))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): TrailingWindowMergeExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    def idx(plan: SparkPlan, a: Attribute) = {
      val i = plan.output.indexWhere(_.exprId == a.exprId)
      require(i >= 0, s"TrailingWindowMergeExec: $a must come from its child")
      i
    }
    val (leIdx, ltIdx) = (idx(left, leftEntity), idx(left, leftTs))
    val (reIdx, rtIdx, rvIdx) =
      (idx(right, rightEntity), idx(right, rightTs), idx(right, rightValue))
    val eDt = leftEntity.dataType
    val windows = windowsMicros.toArray
    val outTypes = output.map(_.dataType)
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      new TrailingWindowIter(lIter, rIter, leIdx, ltIdx, reIdx, rtIdx, rvIdx,
        eDt, windows, outTypes)
    }
  }
}

/** The per-partition kernel of [[TrailingWindowMergeExec]]. */
private final class TrailingWindowIter(
    lIter: Iterator[InternalRow],
    rIter: Iterator[InternalRow],
    leIdx: Int, ltIdx: Int,
    reIdx: Int, rtIdx: Int, rvIdx: Int,
    eDt: DataType,
    windows: Array[Long],
    outTypes: Seq[DataType]) extends Iterator[InternalRow] {

  private val eOrd = TypeUtils.getInterpretedOrdering(eDt)
  private val k = windows.length
  private val widest = windows.indices.maxBy(windows(_))

  // ring of the current entity's visible events, absolute positions
  // [front(widest), tail) live; capacity a power of two
  private var ringTs = new Array[Long](64)
  private var ringV = new Array[Long](64)
  private var tail = 0L
  private val front = new Array[Long](k)
  // per-rung running sum of unscaled DECIMAL(18,2) values, as 128 bits
  private val sumHi = new Array[Long](k)
  private val sumLo = new Array[Long](k)
  private var curE: Any = _             // entity the ring belongs to

  private var rRow: InternalRow = _     // lookahead event row
  private var prevE: Any = _            // last emitted label key
  private var prevT: Any = _
  private var hasPrev = false

  private val outRow = new GenericInternalRow(3 + 2 * k)
  private val proj = UnsafeProjection.create(outTypes.toArray)
  private var pending: InternalRow = _

  override def hasNext: Boolean = {
    while (pending == null && lIter.hasNext) {
      val l = lIter.next()
      val e = if (l.isNullAt(leIdx)) null else l.get(leIdx, eDt)
      val t: Any = if (l.isNullAt(ltIdx)) null else l.getLong(ltIdx)
      if (!(hasPrev && sameKey(e, prevE) && t == prevT)) {
        prevE = InternalRow.copyValue(e)
        prevT = t
        hasPrev = true
        pending = emit(prevE, t)
      }
    }
    pending != null
  }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    val r = pending
    pending = null
    r
  }

  private def sameKey(a: Any, b: Any): Boolean =
    if (a == null || b == null) a == null && b == null
    else eOrd.compare(a, b) == 0

  private def emit(e: Any, t: Any): InternalRow = {
    outRow.update(0, e)
    outRow.update(1, t)
    outRow.setNullAt(2)
    if (e == null || t == null) {
      var j = 0
      while (j < k) {
        outRow.setLong(3 + 2 * j, 0L)
        outRow.update(4 + 2 * j, Decimal(0L, 28, 2))
        j += 1
      }
    } else {
      val lt = t.asInstanceOf[Long]
      if (curE == null || eOrd.compare(e, curE) != 0) {
        curE = e
        tail = 0L
        java.util.Arrays.fill(front, 0L)
        java.util.Arrays.fill(sumHi, 0L)
        java.util.Arrays.fill(sumLo, 0L)
      }
      pullEvents(lt)
      val mask = ringTs.length - 1
      var j = 0
      while (j < k) {
        val lo = lt - windows(j)
        var f = front(j)
        while (f < tail && ringTs((f & mask).toInt) < lo) {
          add(j, -ringV((f & mask).toInt))
          f += 1
        }
        front(j) = f
        outRow.setLong(3 + 2 * j, tail - f)
        outRow.update(4 + 2 * j, sumDecimal(j))
        j += 1
      }
      if (tail > front(widest)) outRow.setLong(2, ringTs(((tail - 1) & mask).toInt))
    }
    proj(outRow)
  }

  /** Append the current entity's events with `et < lt` to the ring. */
  private def pullEvents(lt: Long): Unit = {
    var done = false
    while (!done) {
      if (rRow == null) {
        if (rIter.hasNext) rRow = rIter.next() else done = true
      }
      if (!done) {
        if (rRow.isNullAt(reIdx)) rRow = null
        else {
          val c = eOrd.compare(rRow.get(reIdx, eDt), curE)
          if (c < 0 || (c == 0 && rRow.isNullAt(rtIdx))) rRow = null
          else if (c > 0) done = true
          else {
            val et = rRow.getLong(rtIdx)
            if (et < lt) {
              val v = if (rRow.isNullAt(rvIdx)) 0L
                else rRow.getDecimal(rvIdx, 18, 2).toUnscaledLong
              append(et, v)
              rRow = null
            } else done = true
          }
        }
      }
    }
  }

  private def append(et: Long, v: Long): Unit = {
    val head = front(widest)
    if (tail - head == ringTs.length) grow(head)
    val i = (tail & (ringTs.length - 1)).toInt
    ringTs(i) = et
    ringV(i) = v
    tail += 1
    var j = 0
    while (j < k) { add(j, v); j += 1 }
  }

  /** Double the ring, keeping absolute positions valid. */
  private def grow(head: Long): Unit = {
    val n = ringTs.length
    val ts2 = new Array[Long](n * 2)
    val v2 = new Array[Long](n * 2)
    var p = head
    while (p < tail) {
      ts2((p & (2 * n - 1)).toInt) = ringTs((p & (n - 1)).toInt)
      v2((p & (2 * n - 1)).toInt) = ringV((p & (n - 1)).toInt)
      p += 1
    }
    ringTs = ts2
    ringV = v2
  }

  /** 128-bit signed add of a sign-extended 64-bit value. */
  private def add(j: Int, v: Long): Unit = {
    val lo = sumLo(j) + v
    val carry = if (java.lang.Long.compareUnsigned(lo, sumLo(j)) < 0) 1L else 0L
    sumHi(j) += (v >> 63) + carry
    sumLo(j) = lo
  }

  private def sumDecimal(j: Int): Decimal =
    if (sumHi(j) == (sumLo(j) >> 63)) Decimal(sumLo(j), 28, 2)
    else {
      val big = java.math.BigInteger.valueOf(sumHi(j)).shiftLeft(64)
        .add(new java.math.BigInteger(java.lang.Long.toUnsignedString(sumLo(j))))
      Decimal(new java.math.BigDecimal(big, 2), 28, 2)
    }
}
