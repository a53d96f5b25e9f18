package graft.queries

import graft.SparkSpec

/** Pins the q117 fixed-point PageRank against an in-test sequential
  * fold of the same recurrence — same integer arithmetic, so equality
  * is exact, including the div-truncation behavior a float reference
  * would miss.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def reference(
      e0: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val edges = e0 ++ e0.map(_.swap)
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    var score: Map[Long, Long] = deg.map { case (k, _) => k -> Graph.PrScale }
    for (_ <- 1 to iters) {
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => score(src) / deg(src) }.sum
      }
      score = contrib.map { case (id, c) =>
        id -> (15L * Graph.PrScale + 85L * c) / 100L
      }
    }
    score
  }

  test("distributed fixed-point PageRank equals the sequential recurrence") {
    // star (1 hub, 3 leaves) + a separate edge, degrees 1..3
    val e0 = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L), (3L, 13L))
    val got = Graph.pageRankOf(e0.toDF("src", "dst")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == reference(e0, Graph.PrIters), s"got $got")
    // hub node 10 (degree 2 in-star) outranks the degree-1 leaf 11
    assert(got(10L) > got(11L))
  }

  test("degree-oriented triangle count: K4 + pendant, exact lcc fixed point") {
    // K4 on {1,2,3,4} (4 triangles, 3 per node) plus pendant edge 4-5
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
    val got = Graph.triangleStatsOf(e.toDF("a", "b"), topN = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val s = Graph.LccScale
    // order: degree desc, node asc; K4 nodes have lcc = 1.0 (= 2^20),
    // node 4's pendant dilutes it to 2*3*S/(4*3) = S/2
    assert(got.toSeq == Seq(
      (4L, 4L, 3L, s / 2),
      (1L, 3L, 3L, s), (2L, 3L, 3L, s), (3L, 3L, 3L, s),
      (5L, 1L, 0L, 0L)), s"got ${got.toSeq}")
  }

  test("triangle count: a 4-cycle is triangle-free") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
    val got = Graph.triangleStatsOf(e.toDF("a", "b"), topN = 10).collect()
    assert(got.forall(r => r.getLong(2) == 0L && r.getLong(3) == 0L))
    assert(got.length == 4)
  }

  test("k-core peel: pendant chain cascades off a triangle, core survives") {
    // triangle {1,2,3} plus chain 3-4-5: k=2 peeling removes 5 in
    // round 1 (deg 1), then 4 in round 2 (its degree fell to 1), then
    // stabilizes at the triangle in round 3
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val got = Graph.kcorePeelOf(e, k = 2L, rounds = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, 4L, 4L, 1L, 3L),  // 5 gone; 4 now degree 1
      (2L, 3L, 3L, 2L, 2L),  // 4 gone; triangle left
      (3L, 3L, 3L, 2L, 2L)), // fixed point
      s"got ${got.toSeq}")
  }

  test("k-core peel: k above max degree empties in one round, stays empty") {
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = Graph.kcorePeelOf(e, k = 5L, rounds = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq((1L, 0L, 0L, 0L, 0L), (2L, 0L, 0L, 0L, 0L)),
      s"got ${got.toSeq}")
  }

  test("multi-source BFS: min hops win, radius is bounded, unreached nodes absent") {
    // path 1-2-3-4-5-6 plus seed 9 adjacent to 4: node 4 is 3 hops from
    // seed 1 but 1 hop from seed 9 -> min wins; node 6 is 5 hops from 1
    // and 3 from 9 -> exactly at the k=3 horizon; an isolated edge
    // (20, 21) is unreachable and must be absent.
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (9L, 4L),
      (20L, 21L)).toDF("src", "dst")
    val seeds = Seq(1L, 9L).toDF("id")
    val got = Graph.bfsOf(e, seeds, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 0L, 9L -> 0L, 2L -> 1L, 4L -> 1L,
      3L -> 2L, 5L -> 2L, 6L -> 3L), s"got $got")
  }

  test("weighted SSSP: a two-hop path beats the direct edge") {
    // direct 1->4 costs 100; 1->2->4 costs 30+30=60 -> relaxation from
    // the FULL distance frame (not just the newest frontier) must find
    // it; 5 hangs off 4 so its best cost flows through the cheap path.
    val e = Seq((1L, 4L, 100L), (1L, 2L, 30L), (2L, 4L, 30L), (4L, 5L, 5L))
      .toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("id")
    val got = Graph.ssspOf(e, seeds, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 0L, 2L -> 30L, 4L -> 60L, 5L -> 65L), s"got $got")
  }

  test("q247's adjacency index: one carry entry per src, fails fast past the limit") {
    // q247 ranks each node's adjacency with a src-keyed carry, so pass 1
    // collects about one entry per distinct src (node ids grow with the
    // data): ~21k at sf0.1 and ~211k on the 10x probe. That must run;
    // past PrefixSumExec.MaxCarryEntries the query fails by name.
    import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
    import graft.plans.PrefixSumExec.MaxCarryEntries
    def edges(nSrc: Long) = {
      val e0 = spark.range(nSrc)
        .select((col("id") * 2).as("src"), (col("id") % 1000 * 2 + 1).as("dst"))
      e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
    }
    def adj(nSrc: Long) = Sampling.rankDistributed(edges(nSrc), Seq("src"), Seq(col("dst")))

    val nSrc = 210000L
    val ranked = adj(nSrc)
    // every src's ranks are exactly 1..deg
    val bad = ranked.groupBy(col("src"))
      .agg(count(lit(1)).as("n"), min(col("rk")).as("lo"), max(col("rk")).as("hi"),
        sum(col("rk")).as("s"))
      .filter(col("lo") =!= 1L || col("hi") =!= col("n") ||
        col("s") =!= col("n") * (col("n") + 1L) / 2L)
      .count()
    assert(bad == 0L)
    ranked.queryExecution.toRdd.count()
    val exec = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(ranked.queryExecution.executedPlan) { case p: graft.plans.PrefixSumExec => p }
      .head
    val distinctSrc = nSrc + 1000L
    val entries = exec.metrics("carryEntries").value
    assert(entries >= distinctSrc && entries < distinctSrc + 64, entries)
    assert(distinctSrc * 4 < MaxCarryEntries, "the 10x probe's q247 carry needs headroom")

    val e = intercept[Exception](adj(MaxCarryEntries.toLong).count())
    val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case i: IllegalStateException => i.getMessage }
      .getOrElse(throw e)
    assert(msg.contains("carry entries") && msg.contains("[src]"), msg)
    assert(msg.contains(s"limit of $MaxCarryEntries"), msg)
  }
}
