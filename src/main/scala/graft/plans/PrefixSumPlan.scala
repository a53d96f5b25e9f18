package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, AttributeReference, AttributeSet, BindReferences,
  JoinedRow, RowOrdering, SortOrder, SortPrefix, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{
  Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.execution.{
  SQLExecution, SortPrefixUtils, SparkPlan, SparkStrategy, UnaryExecNode,
  UnsafeExternalRowSorter}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.{SparkEnv, TaskContext}

/** Single-pass distributed prefix sum (the `ops.PrefixSum` kernel).
  *
  * Semantics: appends to every child row
  *   - `cum`  — the inclusive running sum of `v` over the total order
  *              (part ASC NULLS FIRST, order…) WITHIN each `part` group
  *              (NULL until the group's first non-NULL v, like a window
  *              SUM),
  *   - `rk`   — optionally, the 1-based row number in the same order,
  *   - `total` — optionally, the per-part-group SUM(v) over the WHOLE
  *              group (the frame `prefixSumWithTotals` used to return
  *              separately and consumers broadcast-joined back).
  *
  * Execution shape (one data shuffle, no materialization): the child is
  * range-exchanged on (part ++ order) — `OrderedDistribution`, so AQE
  * sizes and coalesces the partitions adaptively — and then read twice
  * FROM THE SAME SHUFFLE FILES (the second job skips the map stage):
  *
  *   pass 1 (tiny): per physical partition, hash-aggregate
  *     (sum v, any-non-null, count) per part key and collect. Because
  *     the layout is range-partitioned on (part ++ order), each
  *     partition holds a contiguous key range, so the collected frame
  *     has at most #partitions + #parts entries — the same bound the
  *     old broadcast carry frame had; cluster-sized at any data scale
  *     when the part is, data-sized when the part is (q247's node ids).
  *     More than [[PrefixSumExec.MaxCarryEntries]] entries (in one
  *     partition, or collected in all) fails the query: the bound is a
  *     contract, checked rather than assumed.
  *   driver: per (partition, key), the carry = totals of the SAME key
  *     in PRECEDING partitions; per key, the global total. Broadcast.
  *   pass 2: per partition, sort by (part ++ order) with the standard
  *     spillable sorter (`UnsafeExternalRowSorter` — the machinery
  *     inside `SortExec`), then stream: running sum + carry lookup on
  *     group change.
  *
  * This replaces the round-14..17 shape (repartitionByRange →
  * localCheckpoint → window + aggregate + broadcast carry join), which
  * paid a FULL second materialization of the working frame to executor
  * local storage (measured ~15x the underlying scan cost at sf0.1),
  * lost the recompute path on executor loss, and re-read the
  * checkpoint twice. Here the only materialization is the shuffle
  * itself — which the exchange pays anyway — and lineage stays intact:
  * lost shuffle output is recomputed from the deterministic map stage.
  *
  * Integer-only by contract: `v` must be LongType (the `ops.PrefixSum`
  * wrapper casts integral inputs; every consumer sums counts, token
  * counts or fixed-point longs). Long addition is associative mod 2^64,
  * so pass-1's unsorted per-partition totals are bit-identical to the
  * old window's ordered sums — the reason a float v is REJECTED at
  * construction rather than silently reassociated.
  *
  * SQLMetrics: `carryEntries` (entries pass 1 collected), `pass1Time`
  * (pass-1 job plus the driver's carry fold), and the pass-2 sorter's
  * `spillSize` and `peakMemory`.
  */
case class PrefixSumNode(
    partAttrs: Seq[Attribute],
    orderExprs: Seq[SortOrder],
    vAttr: Attribute,
    cumAttr: AttributeReference,
    rkAttr: Option[AttributeReference],
    totalAttr: Option[AttributeReference],
    isMax: Boolean,
    inclusive: Boolean,
    child: LogicalPlan) extends UnaryNode {
  require(vAttr.dataType == LongType,
    s"PrefixSumNode: v must be LongType, got ${vAttr.dataType}")
  override def output: Seq[Attribute] =
    child.output ++ Seq(cumAttr) ++ rkAttr ++ totalAttr
  // The exec re-emits child rows WHOLE: every child column is
  // semantically referenced, which (a) is true and (b) keeps column
  // pruning from slimming the exchange under one of two consumers of
  // the same subtree into a non-reusable twin.
  override def references: AttributeSet = child.outputSet
  override def producedAttributes: AttributeSet =
    AttributeSet(Seq(cumAttr) ++ rkAttr ++ totalAttr)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(
      newChild: LogicalPlan): PrefixSumNode = copy(child = newChild)
}

case class PrefixSumExec(
    partAttrs: Seq[Attribute],
    orderExprs: Seq[SortOrder],
    vAttr: Attribute,
    cumAttr: Attribute,
    rkAttr: Option[Attribute],
    totalAttr: Option[Attribute],
    isMax: Boolean,
    inclusive: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  private def fullOrder: Seq[SortOrder] =
    partAttrs.map(a => SortOrder(a, Ascending)) ++ orderExprs

  override def output: Seq[Attribute] =
    child.output ++ Seq(cumAttr) ++ rkAttr ++ totalAttr
  override def producedAttributes: AttributeSet =
    AttributeSet(Seq(cumAttr) ++ rkAttr ++ totalAttr)
  // one range exchange on (part ++ order); AQE coalesces it by advisory
  // size (ENSURE_REQUIREMENTS origin), so the partition count is
  // derived from the data, not pinned to a core count
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(OrderedDistribution(fullOrder))
  override def outputPartitioning: Partitioning = child.outputPartitioning
  // pass 2 sorts each partition by (part ++ order) before emitting —
  // together with the range exchange this IS a global sort, and
  // downstream sorts on a prefix of it are elided
  override def outputOrdering: Seq[SortOrder] = fullOrder

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "carryEntries" -> SQLMetrics.createMetric(sparkContext, "carry entries"),
    "pass1Time" -> SQLMetrics.createTimingMetric(sparkContext, "pass-1 time"),
    "spillSize" -> SQLMetrics.createSizeMetric(sparkContext, "spill size"),
    "peakMemory" -> SQLMetrics.createSizeMetric(sparkContext, "peak memory"))

  override protected def doExecute(): RDD[InternalRow] = {
    val childRDD = child.execute()
    val childOutput = child.output
    val parts = partAttrs
    val vOrd = childOutput.indexWhere(_.exprId == vAttr.exprId)
    require(vOrd >= 0, "PrefixSumExec: v column not found in child output")
    val pass1Start = System.nanoTime()

    // ---- pass 1: per-(partition, part-key) totals (tiny) ----
    // (sum-or-max of non-null v, whether any non-null v, row count),
    // keyed by the UnsafeRow projection of the part columns. Long add
    // wraps mod 2^64 exactly like the SUM(bigint) aggregate it
    // replaces; both sum and max are order-independent on longs, so
    // the unsorted pass is exact.
    val maxMode = isMax
    val perPid: Array[(Int, Array[(UnsafeRow, Long, Boolean, Long)])] =
      childRDD.mapPartitionsWithIndex { (pid, iter) =>
        val keyProj = UnsafeProjection.create(parts, childOutput)
        val m = new java.util.LinkedHashMap[UnsafeRow, Array[Long]]()
        iter.foreach { row =>
          val k = keyProj(row)
          var acc = m.get(k)
          if (acc == null) {
            if (m.size >= PrefixSumExec.MaxCarryEntries)
              throw PrefixSumExec.carryOverflow(m.size + 1L, parts,
                s" in partition $pid alone (counting stopped there)")
            acc = Array(0L, 0L, 0L); m.put(k.copy(), acc)
          }
          if (!row.isNullAt(vOrd)) {
            val v = row.getLong(vOrd)
            if (maxMode) {
              if (acc(1) == 0L || v > acc(0)) acc(0) = v
            } else acc(0) += v
            acc(1) = 1L
          }
          acc(2) += 1L
        }
        val out = new Array[(UnsafeRow, Long, Boolean, Long)](m.size)
        var i = 0
        val it = m.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          out(i) = (e.getKey, e.getValue()(0), e.getValue()(1) == 1L, e.getValue()(2))
          i += 1
        }
        Iterator.single((pid, out))
      }.collect()
    val nEntries = perPid.map(_._2.length.toLong).sum
    if (nEntries > PrefixSumExec.MaxCarryEntries)
      throw PrefixSumExec.carryOverflow(nEntries, parts, "")

    // ---- driver: carries and global totals ----
    // running[key] = (sum, hasNonNull, count) accumulated over
    // partitions in pid order; carry for (pid, key) is the value
    // BEFORE folding pid's own totals in.
    val nPids = childRDD.getNumPartitions
    val running = new java.util.HashMap[UnsafeRow, Array[Long]]()
    // per-pid lookup: key -> (carrySum, carryHas, carryCnt) — only keys
    // present in that partition need an entry
    val carryByPid = new Array[java.util.HashMap[UnsafeRow, Array[Long]]](nPids)
    val sortedPerPid = perPid.sortBy(_._1)
    sortedPerPid.foreach { case (pid, entries) =>
      val cm = new java.util.HashMap[UnsafeRow, Array[Long]]()
      entries.foreach { case (k, s, has, cnt) =>
        val prev = running.get(k)
        if (prev != null) cm.put(k, Array(prev(0), prev(1), prev(2)))
        val acc = if (prev == null) {
          val a = Array(0L, 0L, 0L); running.put(k, a); a
        } else prev
        if (has) {
          if (maxMode) { if (acc(1) == 0L || s > acc(0)) acc(0) = s }
          else acc(0) += s
          acc(1) = 1L
        }
        acc(2) += cnt
      }
      carryByPid(pid) = cm
    }
    for (pid <- 0 until nPids if carryByPid(pid) == null)
      carryByPid(pid) = new java.util.HashMap[UnsafeRow, Array[Long]]()
    // global total per key: (sum or null, from the finished running map)
    val totalByKey = new java.util.HashMap[UnsafeRow, Array[Long]]()
    running.forEach((k, v) => totalByKey.put(k, v))
    longMetric("carryEntries") += nEntries
    longMetric("pass1Time") += (System.nanoTime() - pass1Start) / 1000000L
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
      Seq(longMetric("carryEntries"), longMetric("pass1Time")))

    val needTotal = totalAttr.isDefined
    val needRk = rkAttr.isDefined
    val bcCarry = sparkContext.broadcast(carryByPid)
    val bcTotal =
      if (needTotal) sparkContext.broadcast(totalByKey) else null
    val sortOrderLocal = fullOrder
    val outAttrs = output
    val extraAttrs = Seq(cumAttr) ++ rkAttr ++ totalAttr
    val inclusiveMode = inclusive
    val radixEnabled = session.sessionState.conf.enableRadixSort
    val spillSize = longMetric("spillSize")
    val peakMemory = longMetric("peakMemory")

    // ---- pass 2: sort within partition, stream with carry ----
    childRDD.mapPartitionsWithIndex { (pid, iter) =>
      val sorter = PrefixSumExec.createSorter(
        sortOrderLocal, childOutput, radixEnabled)
      // sort() consumes the whole input before it returns, so the
      // sorter's peak and the task's spill growth are final here
      val taskMetrics = TaskContext.get().taskMetrics()
      val spillBefore = taskMetrics.memoryBytesSpilled
      val sorted = sorter.sort(iter.asInstanceOf[Iterator[UnsafeRow]])
      peakMemory += sorter.getPeakMemoryUsage
      spillSize += taskMetrics.memoryBytesSpilled - spillBefore
      val keyProj = UnsafeProjection.create(parts, childOutput)
      val outProj = UnsafeProjection.create(outAttrs, childOutput ++ extraAttrs)
      val joined = new JoinedRow
      val extra = new GenericInternalRow(extraAttrs.length)
      val carry = bcCarry.value(pid)
      var curKey: UnsafeRow = null
      var localSum = 0L; var localHas = false; var localCnt = 0L
      var carrySum = 0L; var carryHas = false; var carryCnt = 0L
      var totIsNull = true; var totVal = 0L
      sorted.map { row =>
        val k = keyProj(row)
        if (curKey == null || k != curKey) {
          curKey = k.copy()
          localSum = 0L; localHas = false; localCnt = 0L
          val c = carry.get(curKey)
          if (c == null) { carrySum = 0L; carryHas = false; carryCnt = 0L }
          else { carrySum = c(0); carryHas = c(1) == 1L; carryCnt = c(2) }
          if (needTotal) {
            val t = bcTotal.value.get(curKey)
            // key must exist (this row contributed to pass 1)
            totIsNull = t == null || t(1) == 0L
            totVal = if (totIsNull) 0L else t(0)
          }
        }
        localCnt += 1
        if (inclusiveMode && !row.isNullAt(vOrd)) {
          val v = row.getLong(vOrd)
          if (maxMode) { if (!localHas || v > localSum) localSum = v }
          else localSum += v
          localHas = true
        }
        // sum: cum = local window sum + coalesce(carry, 0) — NULL until
        //   the group's first non-null v IN THIS PARTITION, byte-for-
        //   byte the window/carry-join semantics this operator replaces
        // max: cum = greatest(local window max, carry) — NULL only when
        //   both sides are (the q153/q147 inline-copy semantics)
        if (maxMode) {
          if (!localHas && !carryHas) extra.update(0, null)
          else if (!localHas) extra.setLong(0, carrySum)
          else if (!carryHas) extra.setLong(0, localSum)
          else extra.setLong(0, math.max(localSum, carrySum))
        } else {
          if (localHas) extra.setLong(0, localSum + (if (carryHas) carrySum else 0L))
          else extra.update(0, null)
        }
        var i = 1
        if (needRk) { extra.setLong(i, localCnt + carryCnt); i += 1 }
        if (needTotal) {
          if (totIsNull) extra.update(i, null) else extra.setLong(i, totVal)
        }
        if (!inclusiveMode && !row.isNullAt(vOrd)) {
          // exclusive frame (ROWS UNBOUNDED PRECEDING .. -1): the
          // current row joins the running aggregate AFTER emission
          val v = row.getLong(vOrd)
          if (maxMode) { if (!localHas || v > localSum) localSum = v }
          else localSum += v
          localHas = true
        }
        outProj(joined(row, extra))
      }
    }
  }

  override protected def withNewChildInternal(
      newChild: SparkPlan): PrefixSumExec = copy(child = newChild)
}

object PrefixSumExec {
  /** The most (partition, part key) entries pass 1 may collect to the
    * driver. An empty or categorical part needs at most one entry per
    * range partition and key (20 at sf0.1 and on the 10x probe, 32
    * shuffle partitions). q247 keys its carry on graph node ids, which
    * grow with the data: 21003 entries at sf0.1 and 210004 on the 10x
    * probe (`carryEntries` over every execution, checkpoint jobs
    * included). Past this limit, about 5x the largest measured carry,
    * the query fails instead of swamping the driver's carry maps and
    * every task's broadcast.
    */
  val MaxCarryEntries: Int = 1000000

  private[plans] def carryOverflow(
      entries: Long, parts: Seq[Attribute], where: String): IllegalStateException =
    new IllegalStateException(
      s"PrefixSumExec: pass 1 collected $entries carry entries$where for part columns " +
        s"[${parts.map(_.name).mkString(", ")}], above the limit of $MaxCarryEntries " +
        "(one entry per partition and part key): the part columns have too many " +
        "distinct values for a driver-side carry")

  /** The sorter `SortExec.createSorter` builds, reconstructed for use
    * inside a custom operator's partition function: spillable,
    * radix/prefix-accelerated where the leading key allows.
    */
  private[plans] def createSorter(
      sortOrder: Seq[SortOrder], output: Seq[Attribute],
      enableRadixSort: Boolean): UnsafeExternalRowSorter = {
    val ordering = RowOrdering.create(sortOrder, output)
    val boundSortExpression = BindReferences.bindReference(sortOrder.head, output)
    val prefixComparator = SortPrefixUtils.getPrefixComparator(boundSortExpression)
    val canUseRadixSort = enableRadixSort && sortOrder.length == 1 &&
      SortPrefixUtils.canSortFullyWithPrefix(boundSortExpression)
    val prefixExpr = SortPrefix(boundSortExpression)
    val prefixProjection = UnsafeProjection.create(Seq(prefixExpr))
    val prefixComputer = new UnsafeExternalRowSorter.PrefixComputer {
      private val result = new UnsafeExternalRowSorter.PrefixComputer.Prefix
      override def computePrefix(
          row: InternalRow): UnsafeExternalRowSorter.PrefixComputer.Prefix = {
        val prefix = prefixProjection.apply(row)
        result.isNull = prefix.isNullAt(0)
        result.value = if (result.isNull) prefixExpr.nullValue else prefix.getLong(0)
        result
      }
    }
    val pageSize = SparkEnv.get.memoryManager.pageSizeBytes
    UnsafeExternalRowSorter.create(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.fromAttributes(output),
      ordering, prefixComparator, prefixComputer, pageSize, canUseRadixSort)
  }
}

object PrefixSumStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PrefixSumNode(parts, order, v, cum, rk, tot, isMax, incl, child) =>
      PrefixSumExec(parts, order, v, cum, rk, tot, isMax, incl,
        planLater(child)) :: Nil
    case _ => Nil
  }
}
