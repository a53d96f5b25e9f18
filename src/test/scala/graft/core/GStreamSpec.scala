package graft.core

import graft.SparkSpec

/** End-to-end golden tests for the core dataflow layer, porting the
  * reference's composed patterns with its exact inputs and expected
  * outputs (FIXTURES.md F1/F2/F3/F7; comparisons sorted like the
  * reference's — engine_test.go:218).
  */
class GStreamSpec extends SparkSpec {
  import spark.implicits._

  // F1 — running word count (engine_test.go:157-222): one output per
  // input record carrying the count so far.
  test("F1: word count emits running counts per record") {
    val words = "hello this is ssp hello this is sparta sparta is leonida".split(" ").toSeq
    val got = GStream.fromSeq(spark, words)
      .keyBy(identity[String])
      .mapState(0) { (n: Int, w: String) => (n + 1, Seq(s"$w: ${n + 1}")) }
      .collectOrdered()
    val want = Seq(
      "hello: 1", "hello: 2", "is: 1", "is: 2", "is: 3", "leonida: 1",
      "sparta: 1", "sparta: 2", "ssp: 1", "this: 1", "this: 2")
    assert(got.sorted == want.sorted)
  }

  // F2 — running sum (engine_test.go:123-155): prefix sums of 0..4.
  test("F2: running sum emits prefix sums") {
    val got = GStream.fromSeq(spark, Seq(0, 1, 2, 3, 4))
      .keyBy(_ => 0)
      .mapState(0) { (acc: Int, v: Int) => (acc + v, Seq(acc + v)) }
      .collectOrdered()
    assert(got == Seq(0, 1, 3, 6, 10))
  }

  // F2 ordering contract: per-key arrival order is preserved even
  // through repartitioning (the reference relies on channel FIFO).
  test("running sum is order-stable across partitions") {
    val n = 1000
    val got = GStream.fromSeq(spark, (1 to n).toSeq)
      .keyBy(_ % 7)
      .mapState(0L) { (acc: Long, v: Int) => (acc + v, Seq(acc + v)) }
      .collectOrdered()
    val want = (0 until 7).flatMap { k =>
      (1 to n).filter(_ % 7 == k).scanLeft(0L)(_ + _).drop(1)
    }
    assert(got.sorted == want.sorted)
  }

  // F3 — fan-out + align (engine_test.go:530-614): one source feeds an
  // upper branch and a length branch; the library alignWith operator
  // zips them positionally (source tag + two FIFO buffers inside).
  test("F3: fan-out + align zips branches positionally") {
    val src = GStream.fromSeq(spark, Seq("hello", "this", "is", "ssp"))
    val upper = src.map(_.toUpperCase)
    val lens = src.map(_.length.toString)
    val got = upper.alignWith(lens)((u, l) => s"$u: $l").collectOrdered()
    assert(got.sorted == Seq("HELLO: 5", "IS: 2", "SSP: 3", "THIS: 4").sorted)
  }

  test("alignWith handles uneven interleavings and unequal lengths") {
    // left runs ahead; only min(len) pairs emit, in positional order
    val left = GStream.fromSeq(spark, Seq(1, 2, 3, 4, 5))
    val right = GStream.fromSeq(spark, Seq("a", "b", "c"))
    val got = left.alignWith(right)((n, s) => s"$n$s").collectOrdered()
    assert(got == Seq("1a", "2b", "3c"))
  }

  test("property: alignWith equals Seq.zip for arbitrary lengths") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters}
    val gen = for {
      n <- Gen.choose(0, 25)
      m <- Gen.choose(0, 25)
      xs <- Gen.listOfN(n, Gen.choose(-100, 100))
      ys <- Gen.listOfN(m, Gen.alphaStr.map(_.take(3)))
    } yield (xs, ys)
    val prop = Prop.forAll(gen) { case (xs, ys) =>
      val got = GStream.fromSeq(spark, xs)
        .alignWith(GStream.fromSeq(spark, ys))((a, b) => (a, b))
        .collectOrdered()
      got == xs.zip(ys)
    }
    val res = check(Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  // F7 — naive batch map (naive/execute_test.go:9-27): ints ×2.
  test("F7: naive batch map doubles ints") {
    val got = GStream.fromSeq(spark, Seq(1, 2, 3, 4, 5)).map(_ * 2).collectOrdered()
    assert(got == Seq(2, 4, 6, 8, 10))
  }

  test("parallelism is physical-only: results unchanged by repartition") {
    val got = GStream.fromSeq(spark, (1 to 100).toSeq)
      .parallelism(7)
      .keyBy(_ % 3)
      .mapState(0L) { (acc: Long, v: Int) => (acc + v, Seq(acc + v)) }
      .collectOrdered()
    val want = (0 until 3).flatMap { k =>
      (1 to 100).filter(_ % 3 == k).scanLeft(0L)(_ + _).drop(1)
    }
    assert(got.sorted == want.sorted)
  }

  // Scale shape of the watermarker: the data path must range-partition
  // on seq, never funnel through one partition (the old coalesce(1)
  // prefix-max). No single-partition stage is needed: the carry is
  // PrefixSumExec's pass-1 job, one max per range partition, folded on
  // the driver.
  test("assignTimestamps plans distributed: no coalesce(1) on the data path") {
    val st = GStream.fromSeq(spark, (1 to 100).map(_.toString))
      .assignTimestamps(v => (v.toLong, v.toLong - 5))
    val plan = st.queryExecution.executedPlan.toString
    assert(!plan.contains("Coalesce 1"), s"data path funnels through coalesce(1):\n$plan")
    assert(plan.contains("rangepartitioning(seq"),
      s"expected a range exchange on seq:\n$plan")
  }

  // The watermark is ONE PrefixSumExec over ONE range exchange: a
  // second, separately sampled exchange would take the carry across
  // other partition bounds than those of the rows it is added to.
  test("assignTimestamps plans one range exchange and one PrefixSumExec") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    val st = GStream.fromSeq(spark, (1 to 2000).map(_.toString))
      .assignTimestamps(v => (v.toLong, v.toLong - 5))
    st.collect() // the final (post-AQE) plan is the one asserted on
    val plan = st.queryExecution.executedPlan
    val nodes = new AdaptiveSparkPlanHelper {}.collect(plan) { case p => p }
    val rangeOnSeq = nodes.collect {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }.collect { case r: RangePartitioning if r.ordering.head.child.references.exists(_.name == "seq") => r }
    assert(rangeOnSeq.size == 1, s"expected one range exchange on seq:\n$plan")
    assert(nodes.count(_.isInstanceOf[graft.plans.PrefixSumExec]) == 1, plan.toString)
    assert(!nodes.exists(_.isInstanceOf[WindowExec]), s"window leaked:\n$plan")
    assert(!nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]), s"carry join leaked:\n$plan")
  }

  // Distributed prefix-max still equals the sequential fold exactly,
  // including across range-partition boundaries (regressing watermarks,
  // duplicates of the running max, many partitions).
  test("assignTimestamps watermark equals the sequential prefix max") {
    val rnd = new scala.util.Random(7)
    val wms = Seq.fill(5000)(rnd.nextLong(1000000) - 500000)
    val got = GStream.fromSeq(spark, wms)
      .assignTimestamps(v => (v, v))
      .collect().toSeq.sortBy(_.seq).map(_.wm)
    val want = wms.scanLeft(Long.MinValue)(math.max).drop(1)
    assert(got == want)
  }

  // Results must not depend on parallelism or AQE: the same watermark
  // under 1, 4 and 13 range partitions, with adaptive execution on and
  // off (AQE coalesces the range exchange, which moves the partition
  // boundaries the carry is taken across).
  test("assignTimestamps watermark is invariant to shuffle partitions and AQE") {
    val rnd = new scala.util.Random(11)
    // a rising trend with frequent regressions below the running max
    val wms = (0 until 20000).map(i => i * 10L - rnd.nextLong(5000))
    val want = wms.scanLeft(Long.MinValue)(math.max).drop(1)
    for (n <- Seq(1, 4, 13); aqe <- Seq(true, false)) {
      val got = withConf(
          "spark.sql.shuffle.partitions" -> n.toString,
          "spark.sql.adaptive.enabled" -> aqe.toString) {
        GStream.fromSeq(spark, wms)
          .assignTimestamps(v => (v, v))
          .collect().toSeq.sortBy(_.seq).map(_.wm)
      }
      assert(got == want, s"shuffle.partitions=$n, AQE=$aqe")
    }
  }

  // The bounded-memory contract: one key owning ALL records must stream
  // through the external sort, not materialize in a task (the old
  // flatMapGroups form buffered the whole key; 200k records here is a
  // correctness canary for the sorted-run path, where key boundaries
  // and per-key arrival order both come from the partition sort).
  test("mapState threads one huge key and many small keys correctly") {
    val n = 200000
    val huge = GStream.fromSeq(spark, (1 to n).toSeq)
      .keyBy(_ => 0)
      .mapState(0L) { (acc: Long, v: Int) => (acc + v, if (v == n) Seq(acc + v) else Seq.empty) }
      .collectOrdered()
    assert(huge == Seq((1 to n).map(_.toLong).sum))
    // interleaved small keys still reset state at each boundary
    val mixed = GStream.fromSeq(spark, (1 to 1000).toSeq)
      .keyBy(_ % 97)
      .mapState(0L) { (acc: Long, v: Int) => (acc + v, Seq(acc + v)) }
      .collectOrdered()
    val want = (0 until 97).flatMap { k =>
      (1 to 1000).filter(_ % 97 == k).scanLeft(0L)(_ + _).drop(1)
    }
    assert(mixed.sorted == want.sorted)
  }

  // Array-typed keys have reference-equality Scala ==; boundary
  // detection must compare the ENCODED key value (like groupByKey), or
  // every record looks like a new key and state silently resets.
  test("mapState groups array-typed keys by value, not reference") {
    val words = Seq("a", "b", "a", "a", "b")
    val got = GStream.fromSeq(spark, words)
      .keyBy(_.getBytes("UTF-8"))
      .mapState(0) { (n: Int, w: String) => (n + 1, Seq(s"$w:${n + 1}")) }
      .collectOrdered()
    assert(got == Seq("a:1", "b:1", "a:2", "a:3", "b:2"))
  }

  test("foreachSink visits every record") {
    val acc = spark.sparkContext.longAccumulator("sum")
    GStream.fromSeq(spark, (1 to 500).toSeq).foreachSink(v => acc.add(v))
    assert(acc.value == (1 to 500).sum)
  }

  test("flatMap emits 0..N per record and filter drops") {
    val got = GStream.fromSeq(spark, Seq("a b", "", "c"))
      .flatMap(_.split(" ").toSeq.filter(_.nonEmpty))
      .filter(_ != "b")
      .collectOrdered()
    assert(got == Seq("a", "c"))
  }

  // The reference exposes its DAG as adjacency data with a deterministic
  // walk and pins the rendering as a golden string
  // (topology.gen.go:20-41, walk.go:12-31, topology_test.go:17-49).
  test("topology walk renders a 3-node DAG as a golden string") {
    val s = GStream.fromSeq(spark, Seq(1, 2, 3)).map(_ * 2).filter(_ > 2)
    val want =
      """0 LocalRelation -> 1
        |1 DeserializeToObject -> 2
        |2 MapElements -> 3
        |3 SerializeFromObject -> 4
        |4 TypedFilter""".stripMargin
    assert(s.topology.render == want)
  }

  test("operator errors reach the driver as the original typed error") {
    // reference contract (engine.go:74-80, node_test.go:19-49): an
    // operator's own error surfaces to the caller, not a wrapped
    // framework error
    val got = GStream.fromSeq(spark, Seq(1, 2, 3))
      .map { v => if (v == 2) throw new IllegalStateException("operator 2 failed") else v }
      .tryCollectOrdered()
    assert(got.isLeft)
    val e = got.swap.toOption.get
    assert(e.isInstanceOf[IllegalStateException])
    assert(e.getMessage == "operator 2 failed")
  }

  test("typed nulls flow through operators; outer decorator re-set wins") {
    // values parity (values_test.go:20-77): a typed null keeps flowing
    // with its schema intact...
    val nulls = GStream.fromSeq[String](spark, Seq("a", null, "c"))
      .map(v => if (v == null) null else v.toUpperCase)
      .collectOrdered()
    assert(nulls == Seq("A", null, "C"))
    // ...and re-applying a decorator replaces the inner value — the
    // outermost assignment wins, like the reference's decorator chain
    val restamped = GStream.fromSeq(spark, Seq("x"))
      .assignTimestamps(_ => (5L, 5L))
      .map(r => r.copy(ts = 9L, wm = 9L))
      .collect().toSeq
    assert(restamped.map(r => (r.ts, r.wm)) == Seq((9L, 9L)))
  }

  test("topology of a union DAG has two roots feeding one Union node") {
    val u = GStream.fromSeq(spark, Seq("a")).unionTagged(GStream.fromSeq(spark, Seq("b")))
    val topo = new GStream(u.map(t => (t.seq, t.value))).topology
    val roots = topo.nodes.filter { case (i, _) => !topo.edges.exists(_._2 == i) }
    assert(roots.map(_._2) == Seq("LocalRelation", "LocalRelation"))
    val Seq((unionId, _)) = topo.nodes.filter(_._2 == "Union")
    assert(topo.edges.count(_._2 == unionId) == 2)
  }
}
