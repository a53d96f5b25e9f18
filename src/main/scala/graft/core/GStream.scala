package graft.core

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}

/** A record carrying ssp's metadata decorators as plain columns
  * (SURVEY.md §1.3→§1.5): `seq` replaces channel-FIFO arrival order,
  * `source` the multi-input tag, `ts`/`wm` the event-time decorators.
  */
final case class Tagged[T](seq: Long, source: Int, value: T)
final case class Stamped[T](seq: Long, ts: Long, wm: Long, value: T)

/** Typed dataflow veneer over `Dataset` — the Spark-native re-expression
  * of the reference's fluent DAG builder
  * (`NewNode(...).Out().KeyBy(ks).Connect(ctx, next)`,
  * reference node.go:57-105, topology.gen.go:103-150). There is no
  * engine here: the Dataset lineage IS the dataflow graph, Catalyst is
  * the planner, and Spark tasks replace the per-operator goroutines
  * (SURVEY.md §3 "Spark lifecycle mapping").
  *
  * Each element carries an arrival sequence number standing in for the
  * reference's channel FIFO ordering — the observable contract its
  * stateful operators depend on (running aggregates emit one output per
  * input, in arrival order; reference engine_test.go:123-222). Keyed
  * state is processed per key in `seq` order, which is exactly the
  * per-key view an ssp operator clone sees (engine.go:239-261).
  *
  * Operator mapping (SURVEY.md §2.1): map/flatMap/filter = O1,
  * fromSeq = O2, keyBy = O4, mapState = O3 (batch form; streaming form
  * in graft.streaming), assignTimestamps = O8, window = O10,
  * unionTagged = O6, collectOrdered/toDF = O11/O12. Parallelism (O5)
  * is Spark-native: shuffle partitions, not a per-node knob.
  */
final class GStream[T](val ds: Dataset[(Long, T)]) {

  /** O1: per-record transform (flatMap/map/filter fuse into one
    * WholeStageCodegen stage — no per-operator thread anywhere).
    * Outputs inherit the input's seq; multi-output records sub-order by
    * emission index in the low bits.
    */
  def map[U](f: T => U)(implicit e: Encoder[(Long, U)]): GStream[U] =
    new GStream(ds.map { case (s, v) => (s, f(v)) })

  def flatMap[U](f: T => IterableOnce[U])(implicit e: Encoder[(Long, U)]): GStream[U] =
    new GStream(ds.flatMap { case (s, v) =>
      f(v).iterator.zipWithIndex.map { case (u, i) => (s * GStream.FanOut + i, u) }
    })

  def filter(p: T => Boolean): GStream[T] =
    new GStream(ds.filter((sv: (Long, T)) => p(sv._2)))

  /** O4: semantic keying. The key selector runs once per record; Spark
    * hash-partitions on the key (the reference's FNV-mod-par routing,
    * engine.go:374-386, is not observable in results and not replicated).
    */
  def keyBy[K](f: T => K)(implicit ek: Encoder[K], ekv: Encoder[(K, (Long, T))]): KeyedGStream[K, T] =
    new KeyedGStream(ds.map((sv: (Long, T)) => (f(sv._2), sv)))

  /** O6: source-tagged union — each side keeps its arrival order and
    * gains the reference's `Source` decorator (engine.go:85-121).
    */
  def unionTagged(other: GStream[T])(implicit e: Encoder[Tagged[T]]): Dataset[Tagged[T]] = {
    val a = ds.map((sv: (Long, T)) => Tagged(sv._1, 0, sv._2))
    val b = other.ds.map((sv: (Long, T)) => Tagged(sv._1, 1, sv._2))
    a.unionByName(b)
  }

  /** The reference README's fan-out + align pattern (README.md:142-206,
    * golden engine_test.go:530-614) as a named operator: zip this
    * stream's i-th record with `other`'s i-th record, in arrival order
    * per side, regardless of how the two sides interleave. Built from
    * the same pieces the pattern composes by hand — a source-tagged
    * merge ordered by (seq, side) and a constant-keyed [[KeyedGStream
    * .mapState]] holding one FIFO per side. Positional alignment is a
    * sequential contract, so the fold runs single-keyed; the
    * bounded-memory mapState streams it without materializing either
    * side.
    */
  def alignWith[U, V](other: GStream[U])(zip: (T, U) => V)(
      implicit em: Encoder[(Long, (Option[T], Option[U]))],
      ek: Encoder[Int],
      ekv: Encoder[(Int, (Long, (Option[T], Option[U])))],
      ev: Encoder[(Long, V)]): GStream[V] = {
    val a = ds.map { case (s, v) => (s * 2, (Some(v): Option[T], Option.empty[U])) }
    val b = other.ds.map { case (s, v) => (s * 2 + 1, (Option.empty[T], Some(v): Option[U])) }
    new GStream(a.union(b))
      .keyBy(_ => 0)
      .mapState((Vector.empty[T], Vector.empty[U])) { case ((ls, rs), (lo, ro)) =>
        val l2 = lo.fold(ls)(ls :+ _)
        val r2 = ro.fold(rs)(rs :+ _)
        if (l2.nonEmpty && r2.nonEmpty)
          ((l2.tail, r2.tail), Seq(zip(l2.head, r2.head)))
        else ((l2, r2), Seq.empty)
      }
  }

  /** O8: event-time assignment. `f` returns (ts, wm) like the
    * reference's TimestampExtractor (time.go:7-19); the watermark is
    * then made monotone in arrival order — the reference's engine
    * watermarker (engine.go:123-171) — before any keyed windowing, so
    * every record carries the operator-level watermark in force when it
    * arrived.
    *
    * The prefix max runs through [[graft.ops.PrefixSum.prefixMax]]
    * over `seq` with no part columns, so it plans as one
    * `PrefixSumExec`: one range exchange on `seq`, a pass-1 job over
    * the same shuffle files that collects one max per partition (the
    * carry frame is #partitions entries, whatever the data size), and
    * a sorted streaming pass that runs inside the consuming stage's
    * tasks (nothing else is materialized). Output is
    * bit-identical to the sequential fold over arrival order.
    */
  def assignTimestamps(f: T => (Long, Long))(implicit e: Encoder[Stamped[T]]): Dataset[Stamped[T]] = {
    // a named import: the functions._ wildcard would pull in functions.e
    // (Euler's number), shadowing the implicit encoder parameter
    import org.apache.spark.sql.functions.col
    val stamped = ds.map { case (s, v) =>
      val (ts, wm) = f(v)
      Stamped(s, ts, wm, v)
    }
    graft.ops.PrefixSum.prefixMax(stamped.toDF(), Nil, Seq(col("seq")), col("wm"))
      .select(col("seq"), col("ts"), col("cum").as("wm"), col("value"))
      .as[Stamped[T]](e)
  }

  /** O5 (SetParallelism, node.go:13): physical-only repartitioning —
    * the reference's round-robin default keying (key.go:33-55) is load
    * balancing, never semantic (SURVEY.md §7.4), which is exactly
    * Spark's RoundRobinPartitioning.
    */
  def parallelism(n: Int): GStream[T] = new GStream(ds.repartition(n))

  /** O11: ordered materialization (the reference's LogSink + sorted
    * compare; node.go:107-114).
    */
  def collectOrdered(): Seq[T] =
    ds.orderBy("_1").collect().toSeq.map(_._2)

  /** O12: terminal sink — run `f` per record, discard output
    * (the reference's discard sink, bench/wordcount_test.go:38-41).
    */
  def foreachSink(f: T => Unit): Unit =
    ds.foreach((sv: (Long, T)) => f(sv._2))

  /** Error-contract parity (reference engine.go:74-80, node_test.go:
    * 19-49): the reference's Execute() joins every operator goroutine
    * and returns the operator's error to the caller. Spark instead
    * retries failed tasks and surfaces a SparkException wrapping the
    * user lambda's original throwable — so the typed error a pipeline
    * author threw is buried several causes deep. tryCollectOrdered
    * materializes like collectOrdered but returns the ROOT cause on
    * failure, restoring the reference's "the operator's own error
    * reaches the driver" contract.
    */
  def tryCollectOrdered(): Either[Throwable, Seq[T]] =
    try Right(collectOrdered())
    catch {
      case e: Throwable =>
        var cause: Throwable = e
        while (cause.getCause != null && (cause.getCause ne cause)) cause = cause.getCause
        Left(cause)
    }

  /** Topology introspection: the dataflow DAG as data, mirroring the
    * reference's adjacency+roots topology (topology.gen.go:20-41) and
    * deterministic walk (walk.go:12-31). Here the Dataset lineage IS
    * the graph, so the walk runs over the analyzed logical plan:
    * post-order (sources first, like the reference's root-to-sink
    * walk), node ids assigned in walk order, one edge per
    * child-to-parent data flow.
    */
  def topology: GTopology = {
    val nodes = scala.collection.mutable.ArrayBuffer[(Int, String)]()
    val edges = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    def walk(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int = {
      val childIds = p.children.map(walk)
      val id = nodes.length
      nodes += ((id, p.nodeName))
      childIds.foreach(c => edges += ((c, id)))
      id
    }
    walk(ds.queryExecution.analyzed)
    GTopology(nodes.toSeq, edges.toSeq)
  }
}

/** A dataflow graph snapshot: `nodes` = (id, operator name) in
  * deterministic walk order, `edges` = (from, to) in data-flow
  * direction (source → sink).
  */
final case class GTopology(nodes: Seq[(Int, String)], edges: Seq[(Int, Int)]) {
  /** One line per node: `id name -> downstreamIds` — the golden-string
    * form the reference pins in topology_test.go:17-49.
    */
  def render: String = nodes.map { case (i, n) =>
    val outs = edges.collect { case (f, t) if f == i => t }
    s"$i $n" + (if (outs.nonEmpty) outs.mkString(" -> ", ",", "") else "")
  }.mkString("\n")
}

object GStream {
  val FanOut = 1024L // max emissions per record in seq sub-ordering

  /** O2: bounded source (the reference's NewStreamFromElements,
    * datastream.go:28-32).
    */
  def fromSeq[T](spark: SparkSession, xs: Seq[T])(implicit e: Encoder[(Long, T)]): GStream[T] =
    new GStream(spark.createDataset(xs.zipWithIndex.map { case (v, i) => (i.toLong, v) }))
}

/** Keyed stream: the target of O3 (stateful per-key flatMap) and O10
  * (windowed aggregate) in their batch forms.
  */
final class KeyedGStream[K, T](val ds: Dataset[(K, (Long, T))]) {

  /** O3: keyed stateful flatMap (reference NewStatefulNode,
    * node.go:66-105): per-key state threaded through the key's records
    * in arrival order, 0..N outputs per record, one state per key (the
    * reference clones the node per key — engine.go:239-244). Streaming
    * form: graft.streaming.StatefulStreams.statefulByKey.
    *
    * Memory is bounded per RECORD, not per key: instead of buffering a
    * key's records to sort them (flatMapGroups + in-memory sort — a
    * giant key OOMs a task), the records are hash-partitioned on the
    * key and sorted (key, seq) WITHIN each partition — Spark's
    * external sort, which spills — then streamed once, resetting the
    * fold state at each key boundary.  A billion-record key flows
    * through without ever materializing.
    *
    * Key boundaries compare the ENCODED key (UnsafeRow bytes), not
    * Scala `==`: the partitioning and the within-partition sort both
    * operate on the encoded value, and for array-typed keys
    * (`Array[Byte]`, case classes containing arrays) Scala equality is
    * reference equality — byte comparison keeps boundary detection
    * consistent with how the rows were grouped, matching groupByKey's
    * group-by-encoded-value semantics.
    */
  def mapState[S, U](init: S)(f: (S, T) => (S, Seq[U]))(
      implicit ek: Encoder[K], e: Encoder[(Long, U)]): GStream[U] = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder, ExpressionEncoder}
    val keyEnc: ExpressionEncoder[K] = ek match {
      case ee: ExpressionEncoder[K @unchecked] => ee
      case ae: AgnosticEncoder[K @unchecked]   => ExpressionEncoder(ae)
    }
    val sorted = ds.repartition(col("_1")).sortWithinPartitions(col("_1"), col("_2._1"))
    val out = sorted.mapPartitions { it =>
      val toRow = keyEnc.createSerializer() // emits UnsafeRow; equals is byte-wise
      var prevKey: InternalRow = null
      var state = init
      it.flatMap { case (k, (seq, v)) =>
        val kr = toRow(k)
        if (prevKey == null || kr != prevKey) {
          prevKey = kr.copy() // serializer reuses its buffer; keep a stable copy
          state = init
        }
        val (s2, outs) = f(state, v)
        state = s2
        outs.iterator.zipWithIndex.map { case (u, i) => (seq * GStream.FanOut + i, u) }
      }
    }
    new GStream(out)
  }
}
