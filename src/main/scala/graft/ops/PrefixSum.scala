package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Distributed running sum — the generic form of the cluster-carry
  * pattern `Sampling.tokenBudgetOver` / `Sampling.rankDistributed`
  * inline for their specific aggregates: a running SUM within `part`
  * in `order` WITHOUT a per-partition-value sort window (one giant
  * part value would serialize onto a single task at 100 TB).
  *
  * Since round 18 the kernel is the single-pass physical operator
  * [[graft.plans.PrefixSumExec]]: ONE range exchange on (part ++
  * order), a tiny per-partition-totals job over the same shuffle
  * files, and a sorted streaming pass that adds the broadcast carry.
  * The carry frame is one row per (physical partition, part), at most
  * #partitions + #parts rows because range partitioning keeps each
  * partition to a contiguous key range. The round-14..17 shape
  * (repartitionByRange → localCheckpoint → window + carry aggregate +
  * broadcast join) paid a full second materialization of the working
  * frame to executor local storage and truncated lineage; the operator
  * materializes nothing beyond the exchange itself.
  *
  * Hard contract — the carry frame is driver-sized: pass 1 collects one
  * entry per (physical partition, part key) to the driver, and the
  * operator throws once that count exceeds
  * [[graft.plans.PrefixSumExec.MaxCarryEntries]] (a constant, not a
  * conf), naming the count and the part columns. An empty or categorical
  * `part` stays within #partitions + #keys at any scale. A `part` whose
  * cardinality grows with the data (q247's graph node ids) costs about
  * one entry per key and fails once the data outgrows the limit; past
  * that, run it as a keyed sort (`KeyedGStream.mapState`'s shape) or a
  * window instead.
  */
object PrefixSum {

  /** Working/output column names claimed on the input frame.
    * withColumn silently REPLACES an existing column of the same name —
    * an input already carrying e.g. `cum` or `__v` would get silently
    * wrong results — so their absence is asserted, not assumed. NOTE:
    * `rk` is deliberately only reserved by [[rankAndSum]]: ranked
    * frames legitimately flow back through prefixSum (q265's shape).
    */
  private val Reserved = Seq("cum", "__v")

  /** The shared node builder: resolves `value` and `order` through the
    * analyzer (so coercion behaves exactly as the DataFrame API), then
    * plans the fused operator. `value` must resolve to an integral
    * type — every consumer sums counts, token counts or fixed-point
    * longs, and integer addition is the reason the operator's unsorted
    * pass-1 totals are exact (float reassociation would not be).
    */
  private def fused(
      df: DataFrame, part: Seq[String], order: Seq[Column], value: Column,
      rank: Boolean, totalName: Option[String],
      isMax: Boolean = false, inclusive: Boolean = true): DataFrame = {
    val reserved = Reserved ++ (if (rank) Seq("rk") else Nil) ++ totalName
    val clash = reserved.filter(df.columns.contains)
    require(clash.isEmpty,
      s"prefixSum reserves column names ${reserved.mkString(", ")}; " +
        s"input frame already has ${clash.mkString(", ")} — rename before calling")
    val s = df.sparkSession
    // sessions built without GraftExtensions still plan the node (the
    // TopKPerKey.perKey pattern)
    if (!s.experimental.extraStrategies.contains(graft.plans.PrefixSumStrategy)) {
      s.experimental.extraStrategies =
        s.experimental.extraStrategies :+ graft.plans.PrefixSumStrategy
    }
    val vType = df.select(value.as("__v")).schema.head.dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(vType),
      s"prefixSum value must be integral (got $vType): the single-pass " +
        "kernel's per-partition totals are computed unsorted, which is " +
        "exact for integer addition only")
    val base = df.withColumn("__v", value.cast("long"))
    // analyzer-resolved (part ++ order) sort order, extracted from a
    // throwaway sortWithinPartitions plan — names, nested fields and
    // type coercion resolve exactly as any DataFrame sort would
    val sortPlan = org.apache.spark.sql.graft.PlanOps.analyzed(
      base.sortWithinPartitions((part.map(col) ++ order): _*))
    val (orderAll, child) = sortPlan match {
      case so: Sort => (so.order, so.child)
      case other => sys.error(s"prefixSum: unexpected analyzed shape $other")
    }
    val partAttrs = orderAll.take(part.length).map {
      _.child match {
        case a: AttributeReference => a
        case e => sys.error(s"prefixSum: part must be plain columns, got $e")
      }
    }
    val orderExprs = orderAll.drop(part.length)
    val vAttr = child.output.find(_.name == "__v").getOrElse(
      sys.error("prefixSum: __v column lost during analysis"))
    val node = graft.plans.PrefixSumNode(
      partAttrs, orderExprs, vAttr,
      AttributeReference("cum", LongType, nullable = true)(),
      if (rank) Some(AttributeReference("rk", LongType, nullable = true)()) else None,
      totalName.map(n => AttributeReference(n, LongType, nullable = true)()),
      isMax, inclusive,
      child)
    org.apache.spark.sql.graft.PlanOps.ofRows(s, node).drop("__v")
  }

  /** Appends `cum`: the inclusive running sum of `value` over `order`
    * within `part`. `order` must be a total order within each part for
    * the result to be deterministic.
    */
  def prefixSum(
      df: DataFrame, part: Seq[String], order: Seq[Column],
      value: Column): DataFrame =
    fused(df, part, order, value, rank = false, totalName = None)

  /** [[prefixSum]] plus the per-part TOTAL of `value` as an extra
    * column `totalName` on every row (NULL only if the whole part group
    * has no non-null value — SUM semantics; for a rank the total IS the
    * per-part row count). The pre-r18 API returned the totals as a
    * second tiny frame that every consumer immediately broadcast-joined
    * back; the fused operator knows the per-part totals from its carry
    * pass, so the column form removes that join from every consumer
    * plan.
    */
  def prefixSumWithTotal(
      df: DataFrame, part: Seq[String], order: Seq[Column],
      value: Column, totalName: String): DataFrame =
    fused(df, part, order, value, rank = false, totalName = Some(totalName))

  /** Appends BOTH `rk` (1-based row number) and `cum` (inclusive
    * running sum of `value`) over the SAME `order` within `part` — a
    * rank is the running sum of 1 in the same total order, so the
    * operator computes it alongside the value sum for free, where
    * chaining rankDistributed → prefixSum pays the exchange and the
    * carry twice (q285 did before r17's fusion).
    */
  def rankAndSum(
      df: DataFrame, part: Seq[String], order: Seq[Column],
      value: Column): DataFrame =
    fused(df, part, order, value, rank = true, totalName = None)

  /** Appends `cum`: the running MAX of `value` over the rows up to and
    * INCLUDING the current one (ROWS UNBOUNDED PRECEDING .. CURRENT ROW)
    * of `order` within `part` — NULL until the group's first non-null
    * value (the event-time watermarker's shape: `GStream
    * .assignTimestamps` makes each record's watermark the max seen so
    * far in arrival order).
    */
  def prefixMax(
      df: DataFrame, part: Seq[String], order: Seq[Column],
      value: Column): DataFrame =
    fused(df, part, order, value, rank = false, totalName = None, isMax = true)

  /** Appends `cum`: the running MAX of `value` over the STRICTLY
    * PRECEDING rows (ROWS UNBOUNDED PRECEDING .. -1) of `order` within
    * `part` — NULL for a group's first row. greatest() null semantics
    * across the partition boundary (the q153 skyline / q147 watermark /
    * q245 gap-scan shape: "best value seen before me" in a sweep).
    */
  def prefixMaxExclusive(
      df: DataFrame, part: Seq[String], order: Seq[Column],
      value: Column): DataFrame =
    fused(df, part, order, value, rank = false, totalName = None,
      isMax = true, inclusive = false)
}
