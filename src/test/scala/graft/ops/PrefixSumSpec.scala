package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins ops.PrefixSum against the single-window running sum it
  * replaces, including negative values, descending order, multiple
  * parts, and a part that spans several range partitions.
  */
class PrefixSumSpec extends SparkSpec {
  import spark.implicits._

  test("distributed carry prefix sum equals the single-window sum") {
    // two parts, values with sign changes, enough rows to span the
    // session's range partitions
    val rows = (1 to 500).map(i =>
      (if (i % 3 == 0) "a" else "b", i.toLong, (if (i % 7 < 3) -i else i).toLong))
    val df = rows.toDF("part", "ord", "v")
    val got = PrefixSum.prefixSum(df, Seq("part"), Seq(col("ord").desc), col("v"))
      .select(col("part"), col("ord"), col("cum"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val w = Window.partitionBy(col("part")).orderBy(col("ord").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val want = df.withColumn("cum", sum(col("v")).over(w))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(got == want)
  }

  test("ORDER ties advance per row, never collapse (ROWS, not RANGE, frame)") {
    // 32 identical order keys: a RANGE-framed sum would give every row
    // the same cum (the q152 regression this pins); per-row the cums
    // must be exactly 1..32 in some order
    val df = Seq.fill(32)(("p", 7L, 1L)).toDF("part", "ord", "v")
    val cums = PrefixSum.prefixSum(df, Seq("part"), Seq(col("ord")), col("v"))
      .collect().map(_.getAs[Long]("cum")).sorted.toSeq
    assert(cums == (1L to 32L), s"got $cums")
  }

  test("no single-task window: the plan has no corpus-wide sort window per part") {
    // the local windows are per physical partition — the carry is the
    // only per-part ordered window and it runs over __pid counts, so
    // the biggest window input is bounded by the partition count
    val df = (1 to 100).map(i => ("p", i.toLong, 1L)).toDF("part", "ord", "v")
    val out = PrefixSum.prefixSum(df, Seq("part"), Seq(col("ord")), col("v"))
    assert(out.collect().map(_.getAs[Long]("cum")).sorted.toSeq == (1L to 100L))
  }

  test("single-pass operator: one Exchange, no checkpoint, no carry join") {
    // the r18 kernel's contract: the WHOLE prefix sum is one range
    // exchange + the fused exec — no LogicalRDD (localCheckpoint), no
    // BroadcastHashJoin (carry join), no Window
    val df = (1 to 200).map(i => ("p" + (i % 3), i.toLong, 1L))
      .toDF("part", "ord", "v")
    val out = PrefixSum.prefixSumWithTotal(
      df, Seq("part"), Seq(col("ord")), col("v"), "tot")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("LogicalRDD"), s"checkpoint leaked into plan:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"), s"carry join leaked:\n$plan")
    assert(!plan.contains("Window"), s"window leaked:\n$plan")
    assert(plan.contains("PrefixSum"), plan)
    assert(!plan.contains("!PrefixSum"), s"operator flagged invalid:\n$plan")
    // exactly one data exchange
    val exchanges = plan.linesIterator.count(_.contains("Exchange "))
    assert(exchanges == 1, s"expected 1 Exchange, got $exchanges:\n$plan")
  }

  test("SQLMetrics: carry entries, pass-1 time and the pass-2 sorter") {
    val df = (1 to 3000).map(i => ("p" + (i % 3), (i * 7 % 3001).toLong, 1L))
      .toDF("part", "ord", "v")
    val out = PrefixSum.prefixSum(df, Seq("part"), Seq(col("ord")), col("v"))
    out.collect()
    val exec = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(out.queryExecution.executedPlan) { case p: graft.plans.PrefixSumExec => p }
      .head
    val m = exec.metrics.map { case (k, v) => k -> v.value }
    // one entry per (range partition, part key) holding rows: at least
    // one per part, at most one per part and partition
    assert(m("carryEntries") >= 3 && m("carryEntries") <= 3L * 4, m)
    assert(m("pass1Time") >= 0 && m("spillSize") == 0 && m("peakMemory") > 0, m)
  }

  test("totals column equals the per-part SUM over the whole group") {
    val rows = (1 to 300).map(i =>
      (if (i % 5 == 0) "a" else if (i % 5 == 1) "b" else "c",
        i.toLong, (i % 11).toLong))
    val df = rows.toDF("part", "ord", "v")
    val got = PrefixSum.prefixSumWithTotal(
        df, Seq("part"), Seq(col("ord")), col("v"), "tot")
      .select(col("part"), col("tot")).distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = df.groupBy(col("part")).agg(sum(col("v")).as("tot"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("NULL values: cum is NULL until the first non-null v, totals skip NULLs") {
    val rows: Seq[(String, Long, java.lang.Long)] =
      Seq(("p", 1L, null), ("p", 2L, null), ("p", 3L, java.lang.Long.valueOf(5L)),
        ("p", 4L, null), ("p", 5L, java.lang.Long.valueOf(2L)))
    val df = rows.toDF("part", "ord", "v")
    val got = PrefixSum.prefixSumWithTotal(
        df, Seq("part"), Seq(col("ord")), col("v"), "tot")
      .orderBy(col("ord"))
      .collect().map(r => (if (r.isNullAt(3)) null else r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq == Seq((null, 7L), (null, 7L), (5L, 7L), (5L, 7L), (7L, 7L)))
  }

  test("integer-typed value: cum/total are LongType (SUM widening)") {
    val df = Seq(("p", 1L, 3), ("p", 2L, 4)).toDF("part", "ord", "v")
    val out = PrefixSum.prefixSumWithTotal(
      df, Seq("part"), Seq(col("ord")), col("v"), "tot")
    assert(out.schema("cum").dataType.typeName == "long")
    assert(out.schema("tot").dataType.typeName == "long")
    assert(out.orderBy(col("ord")).collect().map(_.getLong(3)).toSeq == Seq(3L, 7L))
  }

  test("empty input: empty output, no failure") {
    val df = Seq.empty[(String, Long, Long)].toDF("part", "ord", "v")
    assert(PrefixSum.prefixSum(df, Seq("part"), Seq(col("ord")), col("v"))
      .collect().isEmpty)
    assert(PrefixSum.prefixMaxExclusive(df, Seq.empty, Seq(col("ord")), col("v"))
      .collect().isEmpty)
  }

  test("float value is rejected (unsorted totals would reassociate)") {
    val df = Seq(("p", 1L, 0.5)).toDF("part", "ord", "v")
    intercept[IllegalArgumentException] {
      PrefixSum.prefixSum(df, Seq("part"), Seq(col("ord")), col("v"))
    }
  }

  test("prefixMaxExclusive ≡ MAX over ROWS UNBOUNDED PRECEDING..-1") {
    val rows = (1 to 400).map(i =>
      (if (i % 4 == 0) "a" else "b", (i * 61 % 211).toLong, i.toLong,
        ((i * 37) % 97).toLong))
    val df = rows.toDF("part", "o1", "o2", "v")
    val order = Seq(col("o1").desc, col("o2"))
    val got = PrefixSum.prefixMaxExclusive(df, Seq("part"), order, col("v"))
      .collect()
      .map(r => (r.getString(0), r.getLong(2)) ->
        (if (r.isNullAt(4)) null else r.getLong(4))).toMap
    val w = Window.partitionBy(col("part")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = df.withColumn("cum", max(col("v")).over(w))
      .collect()
      .map(r => (r.getString(0), r.getLong(2)) ->
        (if (r.isNullAt(4)) null else r.getLong(4))).toMap
    assert(got == want)
  }

  test("prefixMax ≡ MAX over ROWS UNBOUNDED PRECEDING..CURRENT ROW") {
    // regressing values (a running max that plateaus, then is beaten),
    // NULLs, and more range partitions than the session default; with
    // an empty part the carry crosses every partition boundary
    val rows = (1 to 600).map(i =>
      (if (i % 3 == 0) "a" else "b", (i * 53 % 601).toLong,
        (if (i % 17 == 0) null else java.lang.Long.valueOf((i * 37 % 89) - 40L + i / 10))))
    val df = rows.toDF("part", "ord", "v")
    def byRow(out: org.apache.spark.sql.DataFrame) = out
      .select(col("ord"), col("cum")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    withConf("spark.sql.shuffle.partitions" -> "7") {
      for (part <- Seq(Seq.empty[String], Seq("part"))) {
        val got = byRow(PrefixSum.prefixMax(df, part, Seq(col("ord")), col("v")))
        val w = Window.partitionBy(part.map(col): _*).orderBy(col("ord"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val want = byRow(df.withColumn("cum", max(col("v")).over(w)))
        assert(got == want, s"part = $part")
      }
    }
  }

  test("a data-sized part fails fast: the carry-entry limit names count and columns") {
    // one part key per row: the carry frame grows with the data, which
    // the operator's contract forbids. With four range partitions the
    // driver-side count trips; with one, the per-partition count does
    // (AQE off: it would coalesce the four into one).
    import graft.plans.PrefixSumExec.MaxCarryEntries
    val n = MaxCarryEntries + 1000L
    // negated ids: Range's own range partitioning must not stand in for
    // the operator's exchange
    val df = spark.range(n).select(-col("id") as "user", -col("id") as "ord", lit(1L) as "v")
    def failure(partitions: Int): String = withConf(
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> partitions.toString) {
      val e = intercept[Exception] {
        PrefixSum.prefixSum(df, Seq("user"), Seq(col("ord")), col("v")).collect()
      }
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case i: IllegalStateException => i.getMessage }
        .getOrElse(throw e)
    }
    val all = failure(4)
    assert(all.contains(s"collected $n carry entries for part columns [user]"), all)
    assert(all.contains(s"limit of $MaxCarryEntries"), all)
    val one = failure(1)
    assert(one.contains(s"${MaxCarryEntries + 1L} carry entries in partition 0 alone"), one)
    assert(one.contains("[user]"), one)
  }

  test("rankAndSum ≡ chained rank + prefix sum, in one pass") {
    // the fused form must be value-identical to ranking first and then
    // running the sum in rank order (q285's pre-fusion shape) — rk is
    // the running sum of 1 over the same total order, so both columns
    // share one exchange + carry
    val rows = (1 to 400).map(i =>
      (if (i % 4 == 0) "a" else "b", (i * 37 % 101).toLong, i.toLong,
        (if (i % 5 < 2) -i else i).toLong))
    val df = rows.toDF("part", "ord1", "ord2", "v")
    val order = Seq(col("ord1"), col("ord2"))
    val got = PrefixSum.rankAndSum(df, Seq("part"), order, col("v"))
      .collect()
      .map(r => (r.getString(0), r.getLong(2)) ->
        (r.getAs[Long]("rk"), r.getAs[Long]("cum"))).toMap
    val ranked = PrefixSum.prefixSum(df, Seq("part"), order, lit(1L))
      .withColumnRenamed("cum", "rk0")
    val want = PrefixSum.prefixSum(ranked, Seq("part"), Seq(col("rk0")), col("v"))
      .collect()
      .map(r => (r.getString(0), r.getLong(2)) ->
        (r.getAs[Long]("rk0"), r.getAs[Long]("cum"))).toMap
    assert(got == want)
    // rk is a dense 1..n permutation per part
    val perPart = got.toSeq.groupBy(_._1._1)
    perPart.foreach { case (p, g) =>
      assert(g.map(_._2._1).sorted == (1L to g.size), s"part $p ranks")
    }
  }
}
