package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import org.apache.spark.sql.types.DecimalType

/** Iterative link analysis over graphs the relational data already
  * contains. The reference (affo/ssp) has no graph surface — its users
  * would hand-roll iteration inside stateful node callbacks (reference
  * node.go:66-82, NewStatefulNode/Do); here the iteration is a fixed
  * number of declarative
  * join+aggregate rounds, the textbook distributed PageRank shape:
  * each round shuffles per-edge contributions keyed by destination
  * node, partial-aggregated map-side, and the optimizer (AQE) re-plans
  * every round at runtime. No driver-side collect — the driver only
  * holds the loop counter, like q41's k-means rounds.
  *
  * All arithmetic is fixed-point integer (scores scaled by [[PrScale]],
  * damping 0.85 as 85/100, integer DIV throughout), so the result is
  * bit-identical across engines and the oracle unrolls the same three
  * rounds as chained CTEs.
  */
object Graph {

  val PrScale = 1000000L
  val PrIters = 3
  private val PrDampNum = 85L // damping factor in hundredths

  // q117 — PageRank over the part↔supplier bipartite graph induced by
  // lineitem (an edge per distinct supply relationship, both
  // directions). Node ids: part p -> 2p, supplier s -> 2s+1. Every
  // graph node has degree >= 1 by construction, so there is no
  // dangling-mass term. The edge list is localCheckpointed once: three
  // rounds re-read one materialized frame instead of re-running the
  // lineitem distinct per round.
  /** Core: fixed-point PageRank scores (id, score) over an UNDIRECTED
    * graph given as distinct directed edges (src, dst) — each edge is
    * expanded to both directions here. Fixture-testable.
    */
  private[graft] def pageRankOf(e0: DataFrame): DataFrame = {
    // materialize the (usually distinct-aggregated) directed edge list
    // ONCE — it appears four times in the build plan below (both union
    // branches, each consumed by deg and by the join)
    val e1 = e0.localCheckpoint()
    val edges = e1.union(e1.select(col("dst").as("src"), col("src").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
    // Edge frame partitioned by DESTINATION and materialized once: the
    // per-round join streams it in place (broadcast hash join preserves
    // the streamed side's partitioning) and the groupBy(dst) lands on
    // the existing HashPartitioning — each round is exchange-free. The
    // score vector is NODE-sized (dimension-bipartite here), so
    // broadcasting it is the 100 TB-legitimate side; for a web-scale
    // graph whose node table outgrows broadcast, drop the hint and the
    // same plan runs as a shuffled join on src (AQE picks the strategy).
    val edgesD = edges.join(deg, "src").repartition(col("dst")).localCheckpoint()
    var sc = deg.select(col("src").as("id"), lit(PrScale).as("score"))
    for (_ <- 1 to PrIters) {
      sc = edgesD.join(broadcast(sc), col("src") === col("id"))
        .groupBy(col("dst"))
        .agg(expr(s"CAST((${100 - PrDampNum} * $PrScale + " +
          s"$PrDampNum * sum(score DIV d)) DIV 100 AS BIGINT)").as("score"))
        .select(col("dst").as("id"), col("score"))
    }
    sc
  }

  private def q117(s: SparkSession, d: String): DataFrame = {
    val e0 = lineitem(s, d)
      .select((col("l_partkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    pageRankOf(e0).select(
      when(col("id") % 2 === 0, "part").otherwise("supplier").as("node_type"),
      expr("id DIV 2").as("key"), col("score"))
      .orderBy(col("node_type"), col("key"))
  }

  private val q117Sql = {
    val base = s"${100 - PrDampNum} * $PrScale"
    def round(prev: String, name: String) =
      s"""$name AS (
        |  SELECT ed.dst AS id,
        |    CAST(($base + $PrDampNum * sum(p.score // ed.d)) // 100 AS BIGINT)
        |      AS score
        |  FROM ed JOIN $prev p ON p.id = ed.src
        |  GROUP BY ed.dst)""".stripMargin
    s"""WITH e0 AS (
      |  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |  FROM lineitem),
      |e AS (SELECT src, dst FROM e0
      |      UNION ALL SELECT dst AS src, src AS dst FROM e0),
      |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
      |ed AS (SELECT e.src, e.dst, deg.d FROM e JOIN deg USING (src)),
      |s0 AS (SELECT src AS id, CAST($PrScale AS BIGINT) AS score FROM deg),
      |${round("s0", "s1")},
      |${round("s1", "s2")},
      |${round("s2", "s3")}
      |SELECT CASE WHEN id % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_type,
      |  CAST(id // 2 AS BIGINT) AS key, score
      |FROM s3
      |ORDER BY node_type, key""".stripMargin
  }

  // q137 — triangle counting + local clustering coefficient over the
  // parts-co-ordered-together graph (an edge between two parts that
  // appear in the same order). Triangles are counted by DEGREE-ORDERED
  // ORIENTATION, the published distributed-scale algorithm (Cohen's
  // MapReduce triangle enumeration / Suri-Vassilvitskii): every
  // undirected edge is directed from its lower-(degree, id) endpoint to
  // its higher one, wedges are enumerated only at an edge's LOWER
  // endpoint, and a wedge (v, w) closes iff the oriented edge v→w
  // exists. Out-degree under this orientation is O(√m) regardless of
  // hub size — the id-ordered naive join (what the oracle runs) puts a
  // celebrity node's full neighborhood on one side and dies at scale;
  // this form provably cannot. Per-order item counts are bounded (a
  // TPC-H order has ≤7 lines), so edge generation is a bounded
  // per-key self-join.
  //
  // All joins shuffle on node/edge keys; triangles explode to their 3
  // vertices for per-node counts, the final top-15 runs as
  // TakeOrderedAndProject (bounded per-partition heaps, no global
  // sort). lcc_fp is the local clustering coefficient in 2^20 fixed
  // point: 2·tri(v)·2^20 DIV (deg(v)·(deg(v)−1)) — exact integer
  // arithmetic, bit-equal across engines.
  val LccScale = 1048576L // 2^20
  private val TriTopN = 15

  /** Core: (part, degree, n_tri, lcc_fp) rows for the `topN`
    * highest-degree nodes of the undirected graph given as distinct
    * (a, b) edges with a < b. Fixture-testable.
    */
  private[graft] def triangleStatsOf(e0: DataFrame, topN: Int = TriTopN): DataFrame = {
    val e = e0.localCheckpoint() // edge frame feeds deg + orientation + closure probe
    val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    // orient each edge low→high under the total order (deg, id)
    val ka = struct(col("da").as("dd"), col("a").as("nn"))
    val kb = struct(col("db").as("dd"), col("b").as("nn"))
    val eor = e
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(
        when(ka < kb, col("a")).otherwise(col("b")).as("src"),
        when(ka < kb, kb).otherwise(ka).as("dstk"))
      .select(col("src"), col("dstk"), col("dstk.nn").as("dst"))
      .localCheckpoint()
    // wedges at the lower endpoint, out-neighbors ordered by (deg, id)
    val wedges = eor.as("l").join(eor.as("r"), Seq("src"))
      .filter(col("l.dstk") < col("r.dstk"))
      .select(col("src").as("u"), col("l.dst").as("v"), col("r.dst").as("w"))
    // Bloom prefilter on the closure probe: the wedge side is
    // Σ out-deg² rows (34× the edge count on the sf corpus — 441 MB of
    // exchange at sf0.1, the single biggest shuffle in the registry),
    // but only the CLOSING wedges (3·triangles, plus Bloom false
    // positives) survive the join. A packed ~16-bits/edge bitset over
    // the oriented edge keys, built in-plan and broadcast, drops
    // non-closing wedges MAP-SIDE in the same stage that enumerates
    // them — before the exchange, which is the only place the $Σ deg²$
    // surface ever materializes. False positives only pass extra
    // candidates to the exact join below, so the result is unchanged
    // (TrianglePropertySpec/GraphSpec fixtures and the oracle hash pin
    // it); the bitset is capped at 16 MB regardless of edge count
    // (ops/BloomPrefilter.sizeBits), so the plan survives any scale.
    val nEdges = eor.count() // eor is localCheckpointed — a cheap scan
    val mBits = graft.ops.BloomPrefilter.sizeBits(nEdges)
    val edgeBits = graft.ops.BloomPrefilter.packedBitset(
      eor, graft.ops.BloomPrefilter.pairHash(col("src"), col("dst")),
      k = 3, m = mBits)
    val wedgesNear = graft.ops.BloomPrefilter.prefilterPacked(
      wedges, graft.ops.BloomPrefilter.pairHash(col("v"), col("w")),
      edgeBits, k = 3, m = mBits)
    // Closure probe as a SHUFFLED HASH join with the m-row edge list as
    // build: the (pre-filtered) wedge side streams unsorted — the
    // default sort-merge join spends its whole budget externally
    // sorting wedges (7 s of a 13 s query at sf0.1; 2.6 s with the
    // hash probe, before the Bloom stage existed).
    val tri = wedgesNear.join(
      eor.select(col("src").as("v"), col("dst").as("w")).hint("shuffle_hash"),
      Seq("v", "w"))
    val tc = tri.select(explode(array(col("u"), col("v"), col("w"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("nt"))
    deg.join(tc, Seq("v"), "left")
      .select(col("v").as("part"), col("d").as("degree"),
        coalesce(col("nt"), lit(0L)).as("n_tri"),
        when(col("d") > 1,
          expr(s"(2 * coalesce(nt, 0) * $LccScale) DIV (d * (d - 1))"))
          .otherwise(lit(0L)).as("lcc_fp"))
      .orderBy(col("degree").desc, col("part"))
      .limit(topN)
  }

  private def q137(s: SparkSession, d: String): DataFrame = {
    // Pairs of parts co-appearing in an order via the bounded per-key
    // self-join (orders are ≤7 lines in TPC-H, so each key's pair
    // fan-out is ≤21). An in-row collect_set + nested-HOF pair
    // expansion was tried and is ~1.5× SLOWER: nested lambda
    // expressions run interpreted per element, outside codegen,
    // while the join path stays fully codegen'd.
    // No pre-join distinct: the pair-level distinct below already
    // dedups, and (ok, p) duplicates only add a bounded few join rows —
    // dropping it saves a full 600k-row exchange.
    val li = lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
    val e = li.as("x").join(li.as("y").hint("shuffle_hash"), Seq("ok"))
      .filter(col("x.p") < col("y.p"))
      .select(col("x.p").as("a"), col("y.p").as("b")).distinct()
    triangleStatsOf(e)
  }

  private val q137Sql =
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
      |e AS (SELECT DISTINCT x.p AS a, y.p AS b
      |      FROM li x JOIN li y ON x.ok = y.ok AND x.p < y.p),
      |deg AS (SELECT v, count(*) AS d FROM (
      |  SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) GROUP BY v),
      |tri AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
      |        FROM e e1 JOIN e e2 ON e2.a = e1.b
      |          JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |tc AS (SELECT v, count(*) AS nt FROM (
      |  SELECT u AS v FROM tri UNION ALL SELECT v FROM tri
      |  UNION ALL SELECT w AS v FROM tri) GROUP BY v)
      |SELECT deg.v AS part, deg.d AS degree,
      |  coalesce(tc.nt, 0) AS n_tri,
      |  CASE WHEN deg.d > 1
      |    THEN (2 * coalesce(tc.nt, 0) * $LccScale) // (deg.d * (deg.d - 1))
      |    ELSE 0 END AS lcc_fp
      |FROM deg LEFT JOIN tc ON tc.v = deg.v
      |ORDER BY degree DESC, part
      |LIMIT $TriTopN""".stripMargin

  // q157 — k-core peeling: repeatedly delete nodes of degree < k (the
  // standard dense-subgraph / spam-farm / community-seed primitive;
  // Batagelj-Zaversnik sequentially, Montresor et al. distributed).
  // Like q117's PageRank, the iteration is a FIXED number of
  // declarative rounds — each round is a degree aggregate plus two
  // LEFT SEMI joins against the surviving-node list, all shuffling on
  // the node key (no driver-side node set, no broadcast of anything
  // node-sized), with the edge frame re-materialized per round so the
  // plan stays flat. Emitted is the per-round summary (nodes, edges,
  // degree range) — the cascade profile a capacity planner reads —
  // rather than the node list, so the result stays bounded and
  // meaningful at any scale. k = 34 cascades to the empty core in 3
  // rounds on the sf0.01 part↔supplier graph (183 → 97 → 0 nodes).
  val CoreK = 34L
  val CoreRounds = 3

  /** Core: per-round (round, n_nodes, n_edges, min_deg, max_deg) of
    * k-core peeling over an undirected graph given as distinct
    * directed edges (src, dst), both directions derived here.
    * Fixture-testable.
    */
  private[graft] def kcorePeelOf(e0: DataFrame, k: Long, rounds: Int): DataFrame = {
    val e1 = e0.localCheckpoint()
    var e = e1.union(e1.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
    val summaries = (1 to rounds).map { r =>
      val keep = e.groupBy(col("src")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= k)
      e = e.join(keep.select(col("src")), Seq("src"), "left_semi")
        .join(keep.select(col("src").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
        .localCheckpoint()
      e.groupBy(col("src")).agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_nodes"),
          coalesce(sum(col("c")), lit(0L)).as("n_dir"),
          coalesce(min(col("c")), lit(0L)).as("min_deg"),
          coalesce(max(col("c")), lit(0L)).as("max_deg"))
        .select(lit(r.toLong).as("round"), col("n_nodes"),
          expr("CAST(n_dir DIV 2 AS BIGINT)").as("n_edges"),
          col("min_deg"), col("max_deg"))
    }
    summaries.reduce(_ unionAll _).orderBy(col("round"))
  }

  private def q157(s: SparkSession, d: String): DataFrame = {
    val e0 = lineitem(s, d)
      .select((col("l_partkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    kcorePeelOf(e0, CoreK, CoreRounds)
  }

  private val q157Sql = {
    def round(prev: String, i: Int) =
      s"""k$i AS (SELECT src FROM (SELECT src, count(*) AS c FROM $prev GROUP BY src)
        |  WHERE c >= $CoreK),
        |e$i AS (SELECT p.src, p.dst FROM $prev p
        |  JOIN k$i a ON p.src = a.src JOIN k$i b ON p.dst = b.src)""".stripMargin
    def summary(ei: String, i: Int) =
      s"""SELECT CAST($i AS BIGINT) AS round, count(*) AS n_nodes,
        |  CAST(coalesce(sum(c), 0) // 2 AS BIGINT) AS n_edges,
        |  coalesce(min(c), 0) AS min_deg, coalesce(max(c), 0) AS max_deg
        |FROM (SELECT src, count(*) AS c FROM $ei GROUP BY src)""".stripMargin
    s"""WITH e0 AS (
      |  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |  FROM lineitem),
      |e AS (SELECT src, dst FROM e0
      |      UNION ALL SELECT dst AS src, src AS dst FROM e0),
      |${round("e", 1)},
      |${round("e1", 2)},
      |${round("e2", 3)}
      |SELECT * FROM (
      |${summary("e1", 1)}
      |UNION ALL
      |${summary("e2", 2)}
      |UNION ALL
      |${summary("e3", 3)})
      |ORDER BY round""".stripMargin
  }

  // q163 — categorical label propagation over the part↔supplier
  // bipartite graph: suppliers are seeded with their nation, parts
  // adopt the MAJORITY nation of their suppliers (ties → smallest
  // label), then suppliers adopt the majority over their parts — the
  // community-inference primitive (Raghavan et al.'s LPA) in its
  // deterministic synchronous form. Where q117 propagates a numeric
  // mass, this propagates an argmax — and the argmax is computed as
  // max(struct(count, −label)) inside a plain aggregate, so each round
  // is two key-partitioned aggregations and a join: no window over a
  // node's edges, no per-node sort, nothing driver-side. Output: each
  // supplier's seed vs propagated label and whether two hops changed
  // it (the label-flip rate is LPA's convergence signal).
  private val LpCap = 1048576L // 2^20 — label id upper bound

  /** Core: two synchronous LPA rounds over bipartite edges (p, s) with
    * supplier-side seed labels (s, seed) — returns (s, seed, prop).
    * Fixture-testable.
    */
  private[graft] def labelPropagationOf(e0: DataFrame, seed0: DataFrame): DataFrame = {
    val e = e0
    val seed = seed0
    // argmax((count, min label)) packed into ONE long — max(c·2^20 +
    // (2^20−1−label)) — so both rounds stay in hash aggregation
    // (max(struct(...)) falls back to SortAggregate); labels < 2^20,
    // counts < 2^43 by contract
    def argmaxLabel(grouped: DataFrame, key: String, lbl: String): DataFrame =
      grouped.groupBy(col(key))
        .agg(max(col("c") * LpCap + (lit(LpCap - 1) - col(lbl))).as("m"))
        .select(col(key), (lit(LpCap - 1) - pmod(col("m"), lit(LpCap))).as(lbl))
    // round 1: part label = majority supplier seed (tie -> min label)
    val pl = argmaxLabel(
      e.join(seed, Seq("s")).groupBy(col("p"), col("seed"))
        .agg(count(lit(1)).as("c")), "p", "seed")
      .withColumnRenamed("seed", "plabel")
    // round 2: supplier label = majority part label
    val sl = argmaxLabel(
      e.join(pl, Seq("p")).groupBy(col("s"), col("plabel"))
        .agg(count(lit(1)).as("c")), "s", "plabel")
      .withColumnRenamed("plabel", "prop")
    seed.join(sl, Seq("s"))
      .select(col("s"), col("seed"), col("prop"))
      .orderBy(col("s"))
  }

  private def q163(s: SparkSession, d: String): DataFrame = {
    val e = lineitem(s, d)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("s")).distinct()
    val seed = supplier(s, d)
      .select(col("s_suppkey").as("s"), col("s_nationkey").cast("long").as("seed"))
    labelPropagationOf(e, seed)
      .select(col("s").as("s_suppkey"), col("seed").as("seed_label"),
        col("prop").as("prop_label"),
        (col("prop") =!= col("seed")).as("changed"))
      .orderBy(col("s_suppkey"))
  }

  private val q163Sql =
    """WITH e AS (
      |  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
      |seed AS (
      |  SELECT s_suppkey AS s, CAST(s_nationkey AS BIGINT) AS seed
      |  FROM supplier),
      |pc AS (
      |  SELECT p, seed, count(*) AS c FROM e JOIN seed USING (s)
      |  GROUP BY p, seed),
      |pl AS (
      |  SELECT p, seed AS plabel FROM (
      |    SELECT p, seed, row_number() OVER (PARTITION BY p
      |      ORDER BY c DESC, seed ASC) AS rk FROM pc)
      |  WHERE rk = 1),
      |sc AS (
      |  SELECT s, plabel, count(*) AS c FROM e JOIN pl USING (p)
      |  GROUP BY s, plabel),
      |sl AS (
      |  SELECT s, plabel AS prop FROM (
      |    SELECT s, plabel, row_number() OVER (PARTITION BY s
      |      ORDER BY c DESC, plabel ASC) AS rk FROM sc)
      |  WHERE rk = 1)
      |SELECT seed.s AS s_suppkey, seed.seed AS seed_label,
      |  sl.prop AS prop_label, sl.prop <> seed.seed AS changed
      |FROM seed JOIN sl ON seed.s = sl.s
      |ORDER BY s_suppkey""".stripMargin

  /** BFS rounds for q205 (hop limit). */
  val BfsHops = 3

  // q205 — multi-source BFS / hop-distance (blast radius): exact
  // minimum hop count from a SEED SET (every 10th supplier —
  // "recalled suppliers") to every node of the part↔supplier supply
  // graph, out to BfsHops hops. The reachability question behind
  // contamination tracing ("which parts, and which suppliers via
  // shared parts, are within K steps of a bad source") that PageRank
  // (influence, q117) and connected components (q35, ANY path) don't
  // answer: BFS bounds the RADIUS. Deterministic: min() over union of
  // frontiers, no tie-breaks needed.
  //
  // Scale shape: the classic Pregel iteration as K dataframe rounds —
  // the edge list (distinct supply relationships, both directions) is
  // materialized ONCE partitioned by src; each round joins the
  // node-sized distance frame (broadcast-legitimate for a
  // dimension-shaped node set; for a web-scale graph drop the hint and
  // the join shuffles on src — same escape as q117) and merges by
  // min(). K rounds = K tiny shuffles of node-sized frames; row data
  // never re-scans after the first distinct.
  /** Core: min hop count ≤ `k` from the seed set over an UNDIRECTED
    * graph given as distinct directed edges (src, dst) — both
    * directions expanded here. Returns (id, hops). Fixture-testable.
    */
  private[graft] def bfsOf(e0: DataFrame, seeds: DataFrame, k: Int): DataFrame = {
    val e1 = e0.localCheckpoint()
    val edges = e1.union(e1.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src")).localCheckpoint()
    var dist = seeds.select(col("id"), lit(0L).as("hops"))
    for (h <- 1 to k) {
      dist = dist.unionAll(
          edges.join(broadcast(dist.filter(col("hops") === (h - 1))),
              col("src") === col("id"))
            .select(col("dst").as("id"), lit(h.toLong).as("hops")))
        .groupBy(col("id")).agg(min(col("hops")).as("hops"))
    }
    dist
  }

  private def q205(s: SparkSession, d: String): DataFrame = {
    val e0 = lineitem(s, d)
      .select((col("l_partkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val seeds = supplier(s, d)
      .filter(col("s_suppkey") % 10 === 0)
      .select((col("s_suppkey") * 2 + 1).as("id"))
    bfsOf(e0, seeds, BfsHops).select(
        when(col("id") % 2 === 0, "part").otherwise("supplier").as("node_type"),
        expr("id DIV 2").as("key"), col("hops"))
      .orderBy(col("node_type"), col("key"))
  }

  private val q205Sql = {
    def step(prev: String, name: String, h: Int) =
      s"""$name AS (
         |  SELECT id, min(hops) AS hops FROM (
         |    SELECT id, hops FROM $prev
         |    UNION ALL
         |    SELECT ee.dst AS id, $h AS hops
         |    FROM $prev p JOIN ee ON p.id = ee.src AND p.hops = ${h - 1}
         |  ) u GROUP BY id)""".stripMargin
    s"""WITH e AS (
      |  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |  FROM lineitem),
      |ee AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
      |d0 AS (
      |  SELECT s_suppkey * 2 + 1 AS id, CAST(0 AS BIGINT) AS hops
      |  FROM supplier WHERE s_suppkey % 10 = 0),
      |${step("d0", "d1", 1)},
      |${step("d1", "d2", 2)},
      |${step("d2", "d3", 3)}
      |SELECT CASE WHEN id % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_type,
      |  id // 2 AS key, hops
      |FROM d3 ORDER BY node_type, key""".stripMargin
  }

  // q208 — weighted single-source(-set) shortest paths: Bellman-Ford
  // relaxation over the min-plus semiring, BfsHops rounds, on the same
  // supply graph as q205 but with edge COSTS — exact integer cents,
  // min over lineitem rows of round(extendedprice·100) per distinct
  // (part, supplier) relationship. Answers "cheapest path cost from
  // any recalled supplier within K relationship hops" — the weighted
  // question BFS (q205, hop counts) cannot: a 2-hop route can beat a
  // 1-hop route on cost, so rounds relax from the FULL distance frame,
  // not just the newest frontier. Deterministic: min() merges, no
  // tie-breaking anywhere.
  //
  // Scale shape: identical to q205 — edge list materialized once
  // partitioned by src, K node-sized broadcast joins (same web-scale
  // escape hatch: drop the hint and relax as a shuffled join on src).
  // Path costs stay < 2^63 trivially (≤ K·max_cents).
  /** Core: min path cost within `k` relaxation rounds from the seed
    * set over an UNDIRECTED weighted graph given as distinct directed
    * edges (src, dst, w) — both directions expanded here. Returns
    * (id, dc). Fixture-testable.
    */
  private[graft] def ssspOf(e0: DataFrame, seeds: DataFrame, k: Int): DataFrame = {
    val e1 = e0.localCheckpoint()
    val edges = e1.union(e1.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      .repartition(col("src")).localCheckpoint()
    var dist = seeds.select(col("id"), lit(0L).as("dc"))
    for (_ <- 1 to k) {
      dist = dist.unionAll(
          edges.join(broadcast(dist), col("src") === col("id"))
            .select(col("dst").as("id"), (col("dc") + col("w")).as("dc")))
        .groupBy(col("id")).agg(min(col("dc")).as("dc"))
    }
    dist
  }

  private def q208(s: SparkSession, d: String): DataFrame = {
    val edges1 = lineitem(s, d)
      .groupBy((col("l_partkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .agg(min(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("w"))
    val seeds = supplier(s, d)
      .filter(col("s_suppkey") % 10 === 0)
      .select((col("s_suppkey") * 2 + 1).as("id"))
    ssspOf(edges1, seeds, BfsHops).select(
        when(col("id") % 2 === 0, "part").otherwise("supplier").as("node_type"),
        expr("id DIV 2").as("key"), col("dc").as("dist_cents"))
      .orderBy(col("node_type"), col("key"))
  }

  private val q208Sql = {
    def relax(prev: String, name: String) =
      s"""$name AS (
         |  SELECT id, min(dc) AS dc FROM (
         |    SELECT id, dc FROM $prev
         |    UNION ALL
         |    SELECT ee.dst AS id, p.dc + ee.w AS dc
         |    FROM $prev p JOIN ee ON p.id = ee.src
         |  ) u GROUP BY id)""".stripMargin
    s"""WITH e AS (
      |  SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
      |    min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS w
      |  FROM lineitem GROUP BY 1, 2),
      |ee AS (SELECT src, dst, w FROM e UNION ALL SELECT dst, src, w FROM e),
      |d0 AS (
      |  SELECT s_suppkey * 2 + 1 AS id, CAST(0 AS BIGINT) AS dc
      |  FROM supplier WHERE s_suppkey % 10 = 0),
      |${relax("d0", "d1")},
      |${relax("d1", "d2")},
      |${relax("d2", "d3")}
      |SELECT CASE WHEN id % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_type,
      |  id // 2 AS key, dc AS dist_cents
      |FROM d3 ORDER BY node_type, key""".stripMargin
  }

  /** q230 — neighborhood-overlap link prediction over the bipartite
    * customer↔part co-purchase graph: for every candidate customer
    * pair sharing at least one purchased part, the three classic
    * common-neighbor scores — raw common-neighbor count, Jaccard of
    * the part sets, and the resource-allocation index Σ_p 1/deg(p)
    * (Zhou/Lü/Zhang) — the "customers who buy like you" primitive
    * behind collaborative-filtering candidate generation. RA replaces
    * the usual Adamic-Adar Σ 1/ln(deg) precisely because 1/ln is
    * libm-dependent: RA's reciprocal is one integer DIV per wedge
    * (2^20 DIV deg), bit-identical across engines and MORE
    * hub-punishing, which is the point of the weighting.
    *
    * Scale shape: candidate pairs are generated by a self-join of the
    * distinct (cust, part) edge list on part — Σ_p deg(p)² wedge rows,
    * never |custs|² — with the per-part degree joined on BEFORE
    * pairing so each wedge row carries its own RA weight (no second
    * pass). Super-hub parts (deg > [[LpHubCap]]) are dropped up
    * front: a part bought by everyone predicts nothing (its RA weight
    * is ~0 and its Jaccard contribution uniform) yet would contribute
    * deg² pair rows — the standard common-neighbor hub gate makes the
    * wedge fanout per part O(cap²) at ANY corpus size. Per-customer
    * degrees are a broadcast-sized aggregate; output is bounded to the
    * top [[LpTopK]] pairs by RA via TakeOrderedAndProject.
    */
  val LpHubCap = 1024L
  val LpTopK = 100
  private val LpScale = 1048576L // 2^20

  /** Core: common-neighbor link-prediction scores over a DISTINCT
    * bipartite edge list (cust, part). Fixture-testable.
    */
  private[graft] def linkPredictOf(e0: DataFrame, hubCap: Long, topK: Int): DataFrame = {
    val edges = e0.localCheckpoint() // consumed 3×: both degrees + both join sides
    val pdeg = edges.groupBy(col("part")).agg(count(lit(1)).as("pd"))
      .filter(col("pd") <= hubCap)
    val cdeg = edges.groupBy(col("cust")).agg(count(lit(1)).as("cd"))
    // wedge rows: (cust_a < cust_b) through a shared non-hub part,
    // each carrying the part's RA weight
    val ew = edges.join(pdeg, "part") // hub gate applied here
    // part equality needs no sort order — hash join per part bucket
    val wedges = ew.as("a").hint("shuffle_hash").join(ew.as("b"),
        col("a.part") === col("b.part") && col("a.cust") < col("b.cust"))
      .select(col("a.cust").as("cust_a"), col("b.cust").as("cust_b"),
        expr(s"$LpScale DIV a.pd").as("raw"))
    val pairs = wedges.groupBy(col("cust_a"), col("cust_b"))
      .agg(count(lit(1)).as("cn"), sum(col("raw")).as("ra_fp"))
    pairs
      .join(broadcast(cdeg.select(col("cust").as("cust_a"), col("cd").as("deg_a"))), "cust_a")
      .join(broadcast(cdeg.select(col("cust").as("cust_b"), col("cd").as("deg_b"))), "cust_b")
      .select(col("cust_a"), col("cust_b"), col("cn"), col("deg_a"), col("deg_b"),
        expr(s"cn * $LpScale DIV (deg_a + deg_b - cn)").as("jaccard_fp"),
        col("ra_fp"))
      .orderBy(col("ra_fp").desc, col("cust_a"), col("cust_b"))
      .limit(topK)
  }

  private def q230(s: SparkSession, d: String): DataFrame =
    linkPredictOf(
      lineitem(s, d)
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
        .distinct(),
      LpHubCap, LpTopK)

  private val q230Sql =
    s"""WITH e AS (
      |  SELECT DISTINCT o_custkey AS cust, l_partkey AS part
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |pd AS (SELECT part, count(*) AS pd FROM e GROUP BY part
      |  HAVING count(*) <= $LpHubCap),
      |cd AS (SELECT cust, count(*) AS cd FROM e GROUP BY cust),
      |w AS (
      |  SELECT a.cust AS cust_a, b.cust AS cust_b, $LpScale // pd.pd AS raw
      |  FROM e a JOIN e b ON a.part = b.part AND a.cust < b.cust
      |  JOIN pd ON pd.part = a.part),
      |p AS (
      |  SELECT cust_a, cust_b, count(*) AS cn, CAST(sum(raw) AS BIGINT) AS ra_fp
      |  FROM w GROUP BY cust_a, cust_b)
      |SELECT cust_a, cust_b, cn, da.cd AS deg_a, db.cd AS deg_b,
      |  CAST(cn * $LpScale // (da.cd + db.cd - cn) AS BIGINT) AS jaccard_fp,
      |  ra_fp
      |FROM p JOIN cd da ON da.cust = cust_a JOIN cd db ON db.cust = cust_b
      |ORDER BY ra_fp DESC, cust_a, cust_b LIMIT $LpTopK""".stripMargin

  /** q247: walk length (join rounds). */
  val WalkSteps = 4

  // q247 — deterministic random walks (the corpus-generation primitive
  // of DeepWalk/node2vec: walks become "sentences" for embedding
  // training). Over the part–supplier bipartite graph (q117's edge
  // derivation), a walk starts at EVERY part node and takes 4 steps;
  // the step from node v at time t picks neighbor index
  // hash60(v ':' t) mod deg(v) from v's dst-ordered adjacency list —
  // a seeded hash in place of an RNG, so the walk corpus is exactly
  // reproducible across engines and re-runs (the property a 100 TB
  // regeneration actually needs; walks at the same (node, step) move
  // together, which is the rotor-router determinism tradeoff and is
  // fine for coverage statistics). Reported per step: where the walk
  // mass sits — distinct nodes touched, the hottest node and its
  // visit count, and the frontier collapse ratio.
  //
  // Scale shape: adjacency = edges + row_number PARTITIONED BY src
  // (bounded per-node partitions) built once; each step is one
  // shuffled equi-join on (src, idx) — O(walks) rows per round, never
  // O(edges × walks). Per-step summaries are node-sized aggregates.
  // No driver-side state; the "random" choice is pure column algebra.
  private def q247(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFns.hash60
    val e0 = lineitem(s, d)
      .select((col("l_partkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
    // Hub-degree-safe adjacency index: a row_number PARTITIONED BY src
    // would sort each node's whole adjacency in ONE task (a power-law
    // hub serializes the build). Instead the dst-ordered per-src index
    // comes from the rankDistributed carry shape: range-partition on
    // (src, dst), rank locally per partition slice, add each earlier
    // slice's count — a hub's adjacency spans as many range partitions
    // as it needs. deg is a plain shuffle aggregate, not a window.
    // Measured cost of hub-safety at sf0.1: ~1.4 s over the per-src
    // window (range exchange + carry + an extra eager checkpoint) —
    // paid willingly; the window form dies exactly when the graph gets
    // interesting.
    // (measured: pre-partitioning adj on the walk join keys is pure
    // overhead here — the per-step joins broadcast the node-sized
    // frontier, so adj is scanned in place, never shuffled)
    val adj = Sampling.rankDistributed(edges, Seq("src"), Seq(col("dst")))
      .withColumn("idx", col("rk") - 1L).drop("rk")
      .localCheckpoint()
    // deg lives in its own node-sized frame — joining it onto every
    // adjacency row just to read it back per node would pay an
    // edge-sized join for a node-sized fact
    val degs = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val start = e0.select(col("src").as("cur")).distinct()
    def step(front: DataFrame, t: Int): DataFrame =
      front.withColumn("pick",
          pmod(hash60(concat_ws(":", col("cur"), lit(t))), col("deg_c")))
        .join(adj, col("cur") === adj("src") && col("pick") === adj("idx"))
        .select(col("dst").as("cur"))
    // attach degree for the hash-mod; first frontier needs it too
    def withDeg(front: DataFrame): DataFrame =
      front.join(degs, front("cur") === degs("src"))
        .select(col("cur"), col("deg").as("deg_c"))
    def summary(front: DataFrame, t: Int): DataFrame = {
      val perNode = front.groupBy(col("cur")).agg(count(lit(1)).as("v"))
      perNode.agg(lit(t.toLong).as("step"),
        sum(col("v")).as("n_walks"),
        count(lit(1)).as("n_distinct"),
        max(col("v")).as("max_visits"))
        .crossJoin(broadcast(perNode.orderBy(col("v").desc, col("cur"))
          .limit(1).select(col("cur").as("mode_node"))))
    }
    var front = start
    var out: DataFrame = summary(front, 0)
    for (t <- 1 to WalkSteps) {
      front = step(withDeg(front), t).localCheckpoint()
      out = out.unionAll(summary(front, t))
    }
    out.orderBy(col("step"))
  }

  private val q247Sql = {
    import graft.functions.TextFns.hash60Sql
    // every multiply-referenced CTE is MATERIALIZED: each wN is read
    // twice by the final select and feeds wN+1, and adj carries a
    // window over the whole edge list — left inlinable, DuckDB
    // re-evaluates the deep tree per reference (2^steps blowup), which
    // overflowed temp storage at the sf1 probe scale
    def stepCte(prev: String, name: String, t: Int) =
      s"""$name AS MATERIALIZED (
        |  SELECT a.dst AS cur FROM $prev f
        |  JOIN degs g ON g.src = f.cur
        |  JOIN adj a ON a.src = f.cur
        |    AND a.idx = ${hash60Sql(s"CAST(f.cur AS VARCHAR) || ':$t'")} % g.deg)"""
        .stripMargin
    def sumCte(src: String, t: Int) =
      s"""(SELECT $t AS step, CAST(sum(v) AS BIGINT) AS n_walks,
        |  count(DISTINCT cur) AS n_distinct,
        |  CAST(max(v) AS BIGINT) AS max_visits,
        |  (SELECT cur FROM (SELECT cur, count(*) AS v FROM $src GROUP BY 1)
        |   ORDER BY v DESC, cur LIMIT 1) AS mode_node
        | FROM (SELECT cur, count(*) AS v FROM $src GROUP BY 1))""".stripMargin
    s"""WITH e0 AS (
      |  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |  FROM lineitem),
      |e AS (SELECT src, dst FROM e0
      |      UNION ALL SELECT dst AS src, src AS dst FROM e0),
      |adj AS MATERIALIZED (
      |  SELECT src, dst,
      |    CAST(row_number() OVER (PARTITION BY src ORDER BY dst) - 1
      |      AS BIGINT) AS idx
      |  FROM e),
      |degs AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src),
      |w0 AS MATERIALIZED (SELECT DISTINCT src AS cur FROM e0),
      |${stepCte("w0", "w1", 1)},
      |${stepCte("w1", "w2", 2)},
      |${stepCte("w2", "w3", 3)},
      |${stepCte("w3", "w4", 4)}
      |SELECT * FROM (
      |${sumCte("w0", 0)}
      |UNION ALL ${sumCte("w1", 1)}
      |UNION ALL ${sumCte("w2", 2)}
      |UNION ALL ${sumCte("w3", 3)}
      |UNION ALL ${sumCte("w4", 4)})
      |ORDER BY step""".stripMargin
  }

  // q248 — modularity audit of a community assignment: how good is the
  // nation-label partition (suppliers carry their nation; parts take
  // the majority nation of their suppliers, ties to the smallest
  // label — exactly q163's first propagation round) as a community
  // structure on the part–supplier graph? Newman modularity
  // Q = Σ_c [ e_c/m − (d_c/2m)² ] over communities c, with e_c =
  // within-community edges, d_c = degree mass, m = |edges|. The
  // contribution is computed exactly in 2^20 fixed point as
  // (4·m·e_c − d_c²)·2^20 DIV (4·m²), staged through
  // DECIMAL(38,0)/HUGEINT because d_c² is O(m²) — a LongType product
  // wraps past ~3B edges. Per-community rows plus the windowed total
  // (the headline Q) on every row keep the output scalar and bounded
  // by |nations|.
  //
  // Scale shape: three key-shuffled aggregates (part degrees, supplier
  // degrees, internal edges) over the edge list, a nations-sized
  // full-outer merge, one 1-row m broadcast. No driver state.
  private def q248(s: SparkSession, d: String): DataFrame = {
    val e = lineitem(s, d)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("sk")).distinct()
      .localCheckpoint()
    val sl = supplier(s, d)
      .select(col("s_suppkey").as("sk"), col("s_nationkey").cast("long").as("lab"))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("p")).orderBy(col("c").desc, col("lab").asc)
    val pl = e.join(sl, "sk").groupBy(col("p"), col("lab"))
      .agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(wp)).filter(col("rk") === 1)
      .select(col("p"), col("lab").as("plab"))
    val m1 = e.agg(count(lit(1)).as("m"))
    val pd = e.groupBy(col("p")).agg(count(lit(1)).as("deg"))
      .join(pl, "p").groupBy(col("plab").as("com"))
      .agg(count(lit(1)).as("np"), sum(col("deg")).as("dp"))
    val sd = e.groupBy(col("sk")).agg(count(lit(1)).as("deg"))
      .join(sl, "sk").groupBy(col("lab").as("com"))
      .agg(count(lit(1)).as("ns"), sum(col("deg")).as("ds"))
    val ic = e.join(sl, "sk").join(pl, "p")
      .filter(col("lab") === col("plab"))
      .groupBy(col("lab").as("com")).agg(count(lit(1)).as("ec"))
    val com = pd.join(sd, Seq("com"), "full_outer")
      .select(col("com"),
        (coalesce(col("np"), lit(0L)) + coalesce(col("ns"), lit(0L))).as("n_nodes"),
        (coalesce(col("dp"), lit(0L)) + coalesce(col("ds"), lit(0L))).as("deg_sum"))
      .join(ic, Seq("com"), "left_outer")
      .withColumn("internal_edges", coalesce(col("ec"), lit(0L)))
      .crossJoin(broadcast(m1))
    com.select(col("com").as("community"), col("n_nodes"), col("deg_sum"),
        col("internal_edges"),
        expr("""CAST((4 * CAST(m AS DECIMAL(38,0)) * internal_edges
               |  - CAST(deg_sum AS DECIMAL(38,0)) * deg_sum) * 1048576
               |  DIV (4 * CAST(m AS DECIMAL(38,0)) * m) AS BIGINT)"""
          .stripMargin).as("dq_fp"))
      .withColumn("q_total_fp",
        sum(col("dq_fp")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(lit(1))))
      .orderBy(col("community"))
  }

  private val q248Sql =
    """WITH e AS (
      |  SELECT DISTINCT l_partkey AS p, l_suppkey AS sk FROM lineitem),
      |sl AS (SELECT s_suppkey AS sk, CAST(s_nationkey AS BIGINT) AS lab
      |       FROM supplier),
      |pl AS (
      |  SELECT p, lab AS plab FROM (
      |    SELECT p, lab, row_number() OVER (PARTITION BY p
      |      ORDER BY count(*) DESC, lab ASC) AS rk
      |    FROM e JOIN sl USING (sk) GROUP BY p, lab)
      |  WHERE rk = 1),
      |mm AS (SELECT count(*) AS m FROM e),
      |pd AS (
      |  SELECT plab AS com, count(*) AS np, CAST(sum(deg) AS BIGINT) AS dp
      |  FROM (SELECT p, count(*) AS deg FROM e GROUP BY p) x
      |  JOIN pl USING (p) GROUP BY plab),
      |sd AS (
      |  SELECT lab AS com, count(*) AS ns, CAST(sum(deg) AS BIGINT) AS ds
      |  FROM (SELECT sk, count(*) AS deg FROM e GROUP BY sk) x
      |  JOIN sl USING (sk) GROUP BY lab),
      |ic AS (
      |  SELECT lab AS com, count(*) AS ec
      |  FROM e JOIN sl USING (sk) JOIN pl USING (p)
      |  WHERE lab = plab GROUP BY lab),
      |com AS (
      |  SELECT COALESCE(pd.com, sd.com) AS community,
      |    COALESCE(np, 0) + COALESCE(ns, 0) AS n_nodes,
      |    COALESCE(dp, 0) + COALESCE(ds, 0) AS deg_sum
      |  FROM pd FULL OUTER JOIN sd ON pd.com = sd.com),
      |fin AS (
      |  SELECT community, n_nodes, deg_sum,
      |    COALESCE(ec, 0) AS internal_edges,
      |    CAST((4 * CAST(m AS HUGEINT) * COALESCE(ec, 0)
      |      - CAST(deg_sum AS HUGEINT) * deg_sum) * 1048576
      |      // (4 * CAST(m AS HUGEINT) * m) AS BIGINT) AS dq_fp
      |  FROM com LEFT JOIN ic ON ic.com = community, mm)
      |SELECT community, n_nodes, deg_sum, internal_edges, dq_fp,
      |  CAST(sum(dq_fp) OVER () AS BIGINT) AS q_total_fp
      |FROM fin ORDER BY community""".stripMargin

  // q249 — degree assortativity: does the graph wire hubs to hubs
  // (r > 0) or hubs to leaves (r < 0)? Newman's r is the Pearson
  // correlation of endpoint degrees over all directed orientations of
  // the edges; with both orientations included the x and y marginals
  // coincide, so r = (M·Σjk·2 − S1²) / (M·Σ(j²+k²) − S1²) with
  // M = 2m, S1 = Σ(j+k) over orientations — an exact rational reported
  // in 2^20 fixed point (bipartite supply graphs are typically
  // disassortative, so the DIV is negative-safe: both engines truncate
  // toward zero). Products j·k are O(deg²) and the sums O(m·deg²), so
  // every Σ stages through DECIMAL(38,0)/HUGEINT before the DIV.
  //
  // Scale shape: two degree aggregates, two key-shuffled joins to pin
  // degrees on edge endpoints, one 1-row reduction. No collect.
  private def q249(s: SparkSession, d: String): DataFrame = {
    val e = lineitem(s, d)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("sk")).distinct()
    val pdeg = e.groupBy(col("p")).agg(count(lit(1)).as("j"))
    val sdeg = e.groupBy(col("sk")).agg(count(lit(1)).as("k"))
    e.join(pdeg, "p").join(sdeg, "sk")
      .agg(count(lit(1)).as("m_edges"),
        sum(col("j") + col("k")).as("s1"),
        sum(col("j").cast(DecimalType(38, 0)) * col("k")).as("sxy"),
        sum(col("j").cast(DecimalType(38, 0)) * col("j")
          + col("k").cast(DecimalType(38, 0)) * col("k")).as("sxx"))
      .select(col("m_edges"), col("s1").cast("long").as("sum_deg"),
        col("sxy").cast("long").as("sum_jk"),
        col("sxx").cast("long").as("sum_j2k2"),
        expr("""CAST((2 * m_edges * CAST(2 AS DECIMAL(38,0)) * sxy
               |  - CAST(s1 AS DECIMAL(38,0)) * s1) * 1048576
               |  DIV (2 * m_edges * CAST(sxx AS DECIMAL(38,0))
               |  - CAST(s1 AS DECIMAL(38,0)) * s1) AS BIGINT)"""
          .stripMargin).as("r_fp"))
  }

  private val q249Sql =
    """WITH e AS (
      |  SELECT DISTINCT l_partkey AS p, l_suppkey AS sk FROM lineitem),
      |pdeg AS (SELECT p, count(*) AS j FROM e GROUP BY p),
      |sdeg AS (SELECT sk, count(*) AS k FROM e GROUP BY sk)
      |SELECT count(*) AS m_edges,
      |  CAST(sum(j + k) AS BIGINT) AS sum_deg,
      |  CAST(sum(CAST(j AS HUGEINT) * k) AS BIGINT) AS sum_jk,
      |  CAST(sum(CAST(j AS HUGEINT) * j + CAST(k AS HUGEINT) * k)
      |    AS BIGINT) AS sum_j2k2,
      |  CAST((2 * count(*) * 2 * sum(CAST(j AS HUGEINT) * k)
      |    - CAST(sum(j + k) AS HUGEINT) * sum(j + k)) * 1048576
      |    // (2 * count(*) * sum(CAST(j AS HUGEINT) * j + CAST(k AS HUGEINT) * k)
      |    - CAST(sum(j + k) AS HUGEINT) * sum(j + k)) AS BIGINT) AS r_fp
      |FROM e JOIN pdeg USING (p) JOIN sdeg USING (sk)""".stripMargin

  /** q255: HyperBall rounds (ball radius). */
  val HbRounds = 2

  // q255 — HyperBall (Boldi/Rosa/Vigna): the neighborhood function
  // N(t) = Σ_v |ball(v, t)| estimated for EVERY node simultaneously by
  // giving each node an HLL register set (64 buckets, q134's exact
  // conventions) and max-merging neighbors' registers each round —
  // the published way to compute average distance / effective diameter
  // on web-scale graphs, where exact per-node BFS balls (q205 runs ONE
  // source) are quadratic and unpayable. Estimates use q134's
  // exact-integer harmonic numerator, here carried to 2^20 fixed point
  // (α·m²·2^56·2^20 DIV numerator, α = 709/1000 staged in
  // DECIMAL(38,0)/HUGEINT) so per-node estimates and their corpus sums
  // are bit-equal across engines — no float summation order anywhere.
  //
  // Scale shape: register state is packed WIDE — one row per node with
  // all 64 registers (the published HyperBall counter-per-node
  // layout), so each round is one shuffled equi-join of |V| state rows
  // with the edge list emitting |E| rows (NOT 64·|E| as a
  // row-per-register layout would), then one groupBy(v) merge whose
  // aggregates are map-side combinable and fully whole-stage-codegen'd.
  // Since r18 the 64 registers pack 8-per-long into EIGHT long columns
  // (each rho ≤ HllW+1 = 55 < 2^7, one unsigned byte lane each), and
  // the merge is 8 `bytemax` lane-max aggregates
  // (functions.ByteMaxAgg) instead of 64 per-register `max`es: the
  // state row shrinks 512 → 64 bytes — 8x off every round's shuffle
  // and join — and the generated aggregate class shrinks with it
  // (q255's 64-column codegen classes were the round-14 cache-thrash
  // case). An absent bucket is register 0, which contributes
  // 2^(56-0) = 2^56 to the harmonic numerator — bit-identical to the
  // row-layout's explicit (m - present) * 2^56 empty-bucket term, so
  // estimates (and the row-based DuckDB oracle) are unchanged
  // bit-for-bit. Per-round output is a 1-row reduction. Nothing is
  // ever node² — that is the whole point of the algorithm.
  private[graft] val hbRegNames: Seq[String] =
    (0 until Sketches.HllM / 8).map(i => s"p$i")

  /** q255 stage 1: undirected edge list, hash-partitioned on src ONCE —
    * every round's state comes out of groupBy(v) hash-partitioned on v,
    * so the v = src equi-join reuses both sides' partitioning: zero
    * exchanges on the join, exactly ONE (partial-agg-reduced) shuffle
    * per round.
    */
  private[graft] def hbEdges(s: SparkSession, d: String): DataFrame = {
    val e0 = lineitem(s, d)
      .select((col("l_partkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src")).localCheckpoint()
  }

  /** q255 stage 2: per-node initial register rows (radius-0 balls). */
  private[graft] def hbInit(edges: DataFrame): DataFrame = {
    import graft.functions.TextFns.hash60
    import Sketches.HllW
    val h = hash60(col("v").cast("string"))
    val rho = instr(lpad(bin(h % (1L << HllW)), HllW, "0"), "1")
    // two-step projection: evaluate the md5-backed hash/bucket ONCE per
    // node, then fan out to the 64 register columns with cheap
    // bucket = i conditionals (inlining h into all 64 when()s measured
    // 6x slower — no CSE across projection slots)
    edges.select(col("src").as("v")).distinct()
      .select(col("v"), shiftright(h, HllW).as("bucket"),
        when(rho === 0, lit(HllW + 1)).otherwise(rho).cast("long").as("regv"))
      // packed: register `bucket` lives in long (bucket DIV 8), byte
      // lane (bucket % 8) — one shiftleft per populated word, zeros
      // elsewhere
      .select(col("v") +: hbRegNames.zipWithIndex.map { case (n, j) =>
        when(shiftright(col("bucket"), 3) === j,
          expr("shiftleft(regv, CAST((bucket % 8) * 8 AS INT))"))
          .otherwise(lit(0L)).as(n)
      }: _*)
      .repartition(col("v"))
      .localCheckpoint()
  }

  /** q255 round: neighbor max-merge of all 64 registers — 8 lane-max
    * (`bytemax`) aggregates over the packed words. shuffle_hash keeps
    * the 1-row-per-node state side from being sort-merged against the
    * edge list every round.
    */
  private[graft] def hbMerge(r: DataFrame, edges: DataFrame,
      last: Boolean): DataFrame = {
    graft.functions.GraftFunctions.register(r.sparkSession)
    val regCols = hbRegNames.map(col)
    val m = r.join(edges.hint("shuffle_hash"), col("v") === col("src"))
      .select(col("dst").as("v") +: regCols: _*)
      .unionAll(r.select(col("v") +: regCols: _*))
      .groupBy(col("v"))
      .agg(expr(s"bytemax(${hbRegNames.head})").as(hbRegNames.head),
        hbRegNames.tail.map(n => expr(s"bytemax($n)").as(n)): _*)
    // the final round's state feeds exactly one summary — checkpoint
    // (an eager extra job) only when the state is consumed twice
    if (last) m else m.localCheckpoint()
  }

  /** q255 per-round 1-row reduction (neighborhood-function estimate).
    * Registers unpack from the 8 words with shift/mask arithmetic —
    * per-node expression work identical in shape to the 64-column
    * form, only the storage layout changed.
    */
  private[graft] def hbSummary(r: DataFrame, t: Int): DataFrame = {
    import Sketches.HllM
    val regs = (0 until HllM).map { i =>
      s"(shiftright(${hbRegNames(i / 8)}, ${8 * (i % 8)}) & 255)"
    }
    val rr = regs.map(g => expr(s"CASE WHEN $g > 0 THEN 1L ELSE 0L END"))
      .reduce(_ + _)
    val pn = regs.map(g => expr(s"shiftleft(1L, cast(56 - $g as int))"))
      .reduce(_ + _)
    r.select(rr.as("rr"), pn.as("pn"))
      .select(col("rr"),
        expr(s"""CAST(CAST(709 AS DECIMAL(38,0)) * ${HllM.toLong * HllM}
                |  * ${1L << 56} * 1048576
                |  DIV (CAST(1000 AS DECIMAL(38,0)) * pn) AS BIGINT)"""
          .stripMargin).as("ef"))
      .agg(lit(t.toLong).as("step"), count(lit(1)).as("n_nodes"),
        sum(col("rr")).as("reg_rows"), sum(col("ef")).as("nf_fp"),
        max(col("ef")).as("max_est_fp"))
  }

  private def q255(s: SparkSession, d: String): DataFrame = {
    val edges = hbEdges(s, d)
    val r0 = hbInit(edges)
    var r = r0
    var out = hbSummary(r, 0)
    for (t <- 1 to HbRounds) {
      r = hbMerge(r, edges, last = t == HbRounds)
      out = out.unionAll(hbSummary(r, t))
    }
    out.orderBy(col("step"))
  }

  private val q255Sql = {
    import graft.functions.TextFns.hash60Sql
    import Sketches.{HllW, HllM}
    val h = hash60Sql("CAST(v AS VARCHAR)")
    val rho = s"strpos(lpad(bin(h % ${1L << HllW}), $HllW, '0'), '1')"
    def mergeCte(prev: String, name: String) =
      s"""$name AS (
        |  SELECT v, bucket, max(reg) AS reg FROM (
        |    SELECT e.dst AS v, r.bucket, r.reg
        |    FROM $prev r JOIN e ON e.src = r.v
        |    UNION ALL SELECT v, bucket, reg FROM $prev)
        |  GROUP BY v, bucket)""".stripMargin
    def sumCte(rs: String, t: Int) =
      s"""(SELECT $t AS step, count(*) AS n_nodes,
        |  CAST(sum(rr) AS BIGINT) AS reg_rows,
        |  CAST(sum(ef) AS BIGINT) AS nf_fp,
        |  CAST(max(ef) AS BIGINT) AS max_est_fp
        | FROM (
        |  SELECT v, count(*) AS rr,
        |    CAST(CAST(709 AS HUGEINT) * ${HllM.toLong * HllM}
        |      * ${1L << 56} * 1048576
        |      // (CAST(1000 AS HUGEINT)
        |        * (sum(1::BIGINT << CAST(56 - reg AS INT))
        |           + ($HllM - count(*)) * ${1L << 56})) AS BIGINT) AS ef
        |  FROM $rs GROUP BY v))""".stripMargin
    s"""WITH e0 AS (
      |  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |  FROM lineitem),
      |e AS (SELECT src, dst FROM e0
      |      UNION ALL SELECT dst AS src, src AS dst FROM e0),
      |hn AS (SELECT v, $h AS h FROM (SELECT DISTINCT src AS v FROM e)),
      |r0 AS (
      |  SELECT v, h // ${1L << HllW} AS bucket,
      |    CAST(CASE WHEN $rho = 0 THEN ${HllW + 1} ELSE $rho END AS BIGINT) AS reg
      |  FROM hn),
      |${mergeCte("r0", "r1")},
      |${mergeCte("r1", "r2")}
      |SELECT * FROM (
      |${sumCte("r0", 0)}
      |UNION ALL ${sumCte("r1", 1)}
      |UNION ALL ${sumCte("r2", 2)})
      |ORDER BY step""".stripMargin
  }

  // ---- q262: sampled bounded-hop betweenness (Brandes) ------------------

  /** Forward/backward horizon. Bounded-radius betweenness
    * (k-betweenness) is the published scalable variant: on this
    * bipartite graph 3 hops spans supplier → part → co-supplier →
    * part, the paths a brokerage measure cares about.
    */
  val BcHops = 3

  // q262 — BETWEENNESS centrality, the one classic centrality the
  // graph suite (q117 PageRank, q137 triangles, q157 k-core, q205
  // BFS, q208 SSSP, q248 modularity, q255 HyperBall) was missing:
  // which nodes sit ON the shortest paths between others — brokerage,
  // not popularity. Exact all-pairs Brandes is O(V·E); the published
  // scale path is SAMPLED sources (Brandes & Pich 2007) with a
  // bounded radius (k-betweenness), both applied here: the q205 seed
  // rule samples the sources, all sources run SIMULTANEOUSLY as one
  // keyed frame (key = (source, node)), and the backward dependency
  // accumulation δ(v) = Σ_succ σ_v/σ_w·(1+δ(w)) runs level-by-level
  // in 2^20 fixed point with per-term integer DIV — deterministic in
  // both engines, no float summation order anywhere.
  //
  // Scale shape: per level ONE equi-join frontier⋈edges plus a
  // map-side-combinable (source, node) aggregate — work is
  // O(S · E · H) for S sampled sources, the sampling knob that keeps
  // the estimator linear in edges at any graph size; σ/δ products
  // stage through DECIMAL(38,0)/HUGEINT (σ path counts multiply along
  // levels). Each level's frontier is localCheckpointed once: it
  // feeds the next level, the visited set, and the backward pass (the
  // q247 rule).
  /** Sampled-source, bounded-radius Brandes core: `e0` is one
    * direction of the undirected edge list, `seeds` the sampled source
    * ids (column `id`). Returns (v, bc_fp): Σ over sources of the
    * dependency δ(v) in 2^20 fixed point, positive entries only.
    * Extracted from q262 so BetweennessSpec can pin it against a
    * sequential Brandes fold on a fixture graph.
    */
  private[graft] def betweennessOf(
      e0: DataFrame, seeds: DataFrame, hops: Int): DataFrame = {
    val ee = e0.unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
    // seed-sized and trivially recomputable - not worth a barrier
    val f0 = seeds
      .select(col("id").as("s"), col("id").as("v"), lit(1L).as("sigma"))
    val levels = scala.collection.mutable.ArrayBuffer[DataFrame](f0)
    var visited = f0.select(col("s"), col("v"))
    for (h <- 1 to hops) {
      val cand = levels.last.join(ee, col("v") === col("src"))
        .groupBy(col("s"), col("dst"))
        .agg(sum(col("sigma")).as("sigma"))
        .withColumnRenamed("dst", "v")
      val raw = cand.join(visited, Seq("s", "v"), "left_anti")
      // inner levels feed >= 3 consumers (next frontier, visited
      // anti-joins, backward pass) — checkpoint them; the DEEPEST level
      // has exactly one consumer (the backward-pass delta init), so its
      // barrier is pure overhead: leave it lazy and let that single
      // consumer evaluate the one join+agg+anti off the checkpointed
      // level below (measured: see BASELINE.md round-15 q262 note)
      val next = if (h < hops) raw.localCheckpoint() else raw
      levels += next
      if (h < hops)
        visited = visited.unionAll(next.select(col("s"), col("v")))
    }
    // backward dependency accumulation, deepest level first (δ = 0 there)
    var delta = levels(hops)
      .select(col("s"), col("v"), col("sigma"), lit(0L).as("delta"))
    val deps = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (h <- (hops - 1) to 1 by -1) {
      val terms = levels(h).join(ee, col("v") === col("src"))
        .select(col("s"), col("v"), col("sigma").as("sv"), col("dst").as("w"))
        .join(delta.select(col("s"), col("v").as("w"),
          col("sigma").as("sw"), col("delta").as("dw")), Seq("s", "w"))
        .select(col("s"), col("v"), expr(
          "CAST(CAST(sv AS DECIMAL(38,0)) * (1048576 + dw) DIV sw AS BIGINT)")
          .as("term"))
        .groupBy(col("s"), col("v")).agg(sum(col("term")).as("dep"))
      // no checkpoint: each dh is consumed at most twice (next
      // backward level + final union) and its lineage bottoms out in
      // the checkpointed levels/ee after <= hops joins - re-deriving
      // one join+aggregate is cheaper than a materialization barrier
      // (measured: see BASELINE.md round-14 q262 note)
      val dh = levels(h).join(terms, Seq("s", "v"), "left")
        .select(col("s"), col("v"), col("sigma"),
          coalesce(col("dep"), lit(0L)).as("delta"))
      deps += dh
      delta = dh
    }
    deps.map(_.select(col("v"), col("delta"))).reduce(_ unionAll _)
      .groupBy(col("v")).agg(sum(col("delta")).as("bc_fp"))
      .where(col("bc_fp") > 0)
  }

  private def q262(s: SparkSession, d: String): DataFrame = {
    val e0 = lineitem(s, d)
      .select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    // Source-sample rate = the published cost knob (work is O(S·E·H)
    // and the estimator is unbiased in S): 1% of suppliers. The first
    // cut (10%) measured 70 s at sf0.1 — S, not the graph, set the
    // price, which is exactly how Brandes-Pich says to tune it.
    val seeds = supplier(s, d).filter(col("s_suppkey") % 100 === 1)
      .select((col("s_suppkey") * 2 + 1).as("id"))
    betweennessOf(e0, seeds, BcHops)
      .select(
        when(col("v") % 2 === 0, "part").otherwise("supplier").as("node_type"),
        expr("v DIV 2").as("key"), col("bc_fp"))
      .orderBy(col("bc_fp").desc, col("node_type"), col("key"))
  }

  private val q262Sql = {
    def fwd(h: Int): Seq[String] = Seq(
      s"""c$h AS (
        |  SELECT f.s, ee.dst AS v, CAST(sum(f.sigma) AS BIGINT) AS sigma
        |  FROM f${h - 1} f JOIN ee ON f.v = ee.src GROUP BY 1, 2)""".stripMargin,
      s"""f$h AS MATERIALIZED (
        |  SELECT c.s, c.v, c.sigma
        |  FROM c$h c ANTI JOIN vis${h - 1} d ON d.s = c.s AND d.v = c.v)""".stripMargin,
      s"""vis$h AS MATERIALIZED (
        |  SELECT * FROM vis${h - 1} UNION ALL SELECT s, v FROM f$h)""".stripMargin)
    def bwd(h: Int): Seq[String] = Seq(
      s"""t$h AS (
        |  SELECT f.s, f.v,
        |    CAST(sum(CAST(f.sigma AS HUGEINT) * (1048576 + w.delta) // w.sigma)
        |      AS BIGINT) AS dep
        |  FROM f$h f JOIN ee ON f.v = ee.src
        |  JOIN d${h + 1} w ON w.s = f.s AND w.v = ee.dst
        |  GROUP BY 1, 2)""".stripMargin,
      s"""d$h AS MATERIALIZED (
        |  SELECT f.s, f.v, f.sigma, coalesce(t.dep, 0) AS delta
        |  FROM f$h f LEFT JOIN t$h t ON t.s = f.s AND t.v = f.v)""".stripMargin)
    s"""WITH e AS (
      |  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |  FROM lineitem),
      |ee AS MATERIALIZED (
      |  SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
      |f0 AS MATERIALIZED (
      |  SELECT s_suppkey * 2 + 1 AS s, s_suppkey * 2 + 1 AS v,
      |    1::BIGINT AS sigma
      |  FROM supplier WHERE s_suppkey % 100 = 1),
      |vis0 AS (SELECT s, v FROM f0),
      |${(1 to BcHops).flatMap(fwd).mkString(",\n")},
      |d$BcHops AS (SELECT s, v, sigma, 0::BIGINT AS delta FROM f$BcHops),
      |${((BcHops - 1) to 1 by -1).flatMap(bwd).mkString(",\n")}
      |SELECT CASE WHEN v % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_type,
      |  v // 2 AS key, CAST(bc AS BIGINT) AS bc_fp
      |FROM (
      |  SELECT v, sum(delta) AS bc FROM (
      |    ${((BcHops - 1) to 1 by -1).map(h => s"SELECT v, delta FROM d$h")
             .mkString(" UNION ALL ")}) u
      |  GROUP BY v)
      |WHERE bc > 0
      |ORDER BY bc_fp DESC, node_type, key""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("q117_pagerank", q117, Some(q117Sql)),
    Q("q137_triangle_count", q137, Some(q137Sql)),
    Q("q157_kcore_peel", q157, Some(q157Sql)),
    Q("q163_label_propagation", q163, Some(q163Sql)),
    Q("q205_bfs_hops", q205, Some(q205Sql)),
    Q("q208_weighted_sssp", q208, Some(q208Sql)),
    Q("q230_link_predict", q230, Some(q230Sql)),
    Q("q247_graph_walks", q247, Some(q247Sql)),
    Q("q248_modularity", q248, Some(q248Sql)),
    Q("q249_assortativity", q249, Some(q249Sql)),
    Q("q255_hyperball", q255, Some(q255Sql)),
    Q("q262_betweenness", q262, Some(q262Sql)),
  )
}
