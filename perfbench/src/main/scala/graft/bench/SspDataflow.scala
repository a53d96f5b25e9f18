package graft.bench

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max, min}

import graft.core.{FixedWindowManager, GStream, WindowedOps}
import graft.sources.WordGenSource

/** ssp's reference benchmark (a keyed running count over generated
  * words) plus its event-time sliding windows, through `graft.core`.
  *
  * Job 1: `keyBy(word).mapState` running count into a noop sink.
  * Job 2: `assignTimestamps` (event time = id ms; a seeded share of
  * records is late) then `WindowedOps.windowedAggregate` sliding counts,
  * collected (about 17k emissions).
  * The two jobs repeat on the same generated words, one iteration per
  * two measured seconds, after a full-size warm-up iteration. 300k words
  * keep an iteration near 2 s on 4 cores; at 1M words it took 6-8 s, so
  * a run would time two iterations instead of four.
  *
  * Checks: every timed window job's output equals a sequential
  * `FixedWindowManager` fold, computed once before timing; a job whose
  * output differs is failed and not a sample. The running count is
  * checked once, untimed, after timing: one output per input word and
  * each word's last count equal to its groupBy count.
  */
object SspDataflow extends Workload {
  val Words = 300000L
  val SlackMs = 2000L // watermark = id ms - slack
  val LateShare = 0.02 // share of records whose event time is pulled back
  val LateByMs = 12000L
  val WindowMs = 10000L
  val SlideMs = 5000L

  type Emit = (String, Long, Long, Long) // word, window start, stop, count

  private def words(spark: SparkSession, seed: Long, rows: Long, parts: Int): Dataset[(Long, String)] = {
    import spark.implicits._
    Tracer.span("sources.WordGenSource") {
      spark.read.format("graft.sources.WordGenSource")
        .option("rows", rows.toString).option("partitions", parts.toString)
        .option("seed", seed.toString).load().as[(Long, String)]
    }
  }

  /** Seeded lateness: whether record `id` arrives with an old event time. */
  def isLate(seed: Long, id: Long): Boolean =
    java.lang.Math.floorMod(WordGenSource.mix(id ^ (seed * 0x2545f4914f6cdd1dL)), 10000L) <
      (LateShare * 10000).toLong

  def eventTime(seed: Long, id: Long): (Long, Long) =
    (if (isLate(seed, id)) math.max(0L, id - LateByMs) else id, id - SlackMs)

  private def runningCount(spark: SparkSession, in: Dataset[(Long, String)]): Dataset[(Long, (String, Long))] = {
    import spark.implicits._
    val keyed = Tracer.span("core.GStream.keyBy")(new GStream(in).keyBy(w => w))
    Tracer.span("core.KeyedGStream.mapState") {
      keyed.mapState(0L)((n: Long, w: String) => (n + 1, Seq((w, n + 1)))).ds
    }
  }

  private def windows(spark: SparkSession, seed: Long, in: Dataset[(Long, String)]): Dataset[Emit] = {
    import spark.implicits._
    val byId = new GStream(in.map { case (id, w) => (id, (id, w)) })
    val stamped = Tracer.span("core.GStream.assignTimestamps") {
      byId.assignTimestamps { case (id, _) => eventTime(seed, id) }
    }
    Tracer.span("core.WindowedOps.windowedAggregate") {
      WindowedOps.windowedAggregate(stamped, (r: (Long, String)) => r._2, WindowMs, SlideMs,
        () => 0L)((s, _) => s + 1)((k, w) => (k, w.start, w.stop, w.state))
    }
  }

  /** One iteration, each job its own operation: the running count into
    * the noop sink, then the windows collected. Returns the operations and
    * the windows' output.
    */
  def iteration(ctx: Ctx, it: Int, rows: Long): (Seq[Op], Seq[Emit]) = {
    val spark = ctx.spark
    var emits: Seq[Emit] = Nil
    val ops = Seq(
      Ops.timed(ctx, s"mapstate-$it", "mapstate") {
        val out = Tracer.span("core.plan_build")(runningCount(spark, words(spark, ctx.seed, rows, ctx.cores)))
        Tracer.span("sink.noop")(out.write.format("noop").mode("overwrite").save())
      },
      Ops.timed(ctx, s"window-$it", "window") {
        val out = Tracer.span("core.plan_build")(windows(spark, ctx.seed, words(spark, ctx.seed, rows, ctx.cores)))
        emits = Tracer.span("sink.collect")(out.collect().toSeq)
      })
    (ops, emits)
  }

  /** One full-size iteration on another corpus: JIT and codegen settle on
    * this input size before anything is timed.
    */
  def warmup(ctx: Ctx): Unit = iteration(ctx.copy(seed = ctx.seed + 1), -1, Words)

  /** A fixed amount of work for the measured seconds: one iteration
    * (both jobs) per two seconds.
    */
  def iterations(seconds: Int): Int = math.max(2, seconds / 2)

  private def multiset(emits: Seq[Emit]): Map[Emit, Int] =
    emits.groupBy(identity).view.mapValues(_.size).toMap

  def run(ctx: Ctx): Outcome = {
    val want = multiset(foldWindows(ctx.seed, Words))
    val iters = (1 to iterations(ctx.seconds)).map(it => iteration(ctx, it, Words))
    // a window job whose output differs from the fold is failed
    val checked = iters.map { case (Seq(ms, win), emits) =>
      val got = multiset(emits)
      if (!win.ok || got == want) (Seq(ms, win), None)
      else (Seq(ms, win.copy(ok = false)), Some(s"ssp: ${win.group}: windowed output (${emits.size}) " +
        s"differs from the fold (${want.values.sum}): only streamed ${(got.toSet -- want.toSet).take(3)}, " +
        s"only folded ${(want.toSet -- got.toSet).take(3)}"))
    }
    val ops = checked.flatMap(_._1)
    // an iteration is the operation: its input is due when it starts and
    // all of its output is out when its second job ends
    val iterWalls = checked.map(_._1).filter(_.forall(_.ok)).map(_.map(_.wallS).sum)
    val (ok, notes) = checkRunningCount(ctx)
    val winNotes = checked.flatMap(_._2)
    val e2e = Map(
      "rows_per_s" -> Words * iterWalls.size / math.max(iterWalls.sum, 1e-9),
      "wall_s" -> Stats.median(iterWalls),
      "query_wall_p50_s" -> Stats.quantile(iterWalls, 0.5),
      "query_wall_p75_s" -> Stats.quantile(iterWalls, 0.75),
      "event_latency_p50_ms" -> Stats.quantile(iterWalls, 0.5) * 1000,
      "event_latency_p90_ms" -> Stats.quantile(iterWalls, 0.9) * 1000)
    val emits = iters.head._2
    val layer: Map[String, Double] =
      if (!ctx.traced) Map.empty
      else Layers.core(ctx, ops.filter(_.ok)) ++ Map(
        "core.window_emits" -> emits.size.toDouble,
        "core.window_reemits" -> (emits.size - emits.map(e => (e._1, e._2)).distinct.size).toDouble)
    Outcome(ops.size, ops.count(!_.ok), ok && winNotes.isEmpty, e2e, layer, ops, notes ++ winNotes)
  }

  /** Untimed check of the running count: one output per input word, and
    * each word's first count 1 and last count its groupBy count.
    */
  def checkRunningCount(ctx: Ctx): (Boolean, Seq[String]) = {
    val spark = ctx.spark
    import spark.implicits._
    spark.sparkContext.setJobGroup("check", "output check")
    try {
      val in = words(spark, ctx.seed, Words, ctx.cores)
      val counts = runningCount(spark, in).map(_._2).toDF("word", "n")
        .groupBy("word").agg(count(lit(1)).as("outs"), max("n").as("last"), min("n").as("first"))
      val want = in.toDF("id", "word").groupBy("word").count()
      val bad = counts.join(want, Seq("word"), "full_outer")
        .filter(!(col("outs") === col("count") && col("last") === col("count") && col("first") === 1))
        .count()
      val total = counts.agg(org.apache.spark.sql.functions.sum("outs")).as[Long].head()
      val notes = Seq(
        if (total != Words) Some(s"ssp: ${total} running-count outputs for $Words words") else None,
        if (bad != 0) Some(s"ssp: $bad words whose last running count differs from groupBy") else None
      ).flatten
      (notes.isEmpty, notes)
    } finally spark.sparkContext.clearJobGroup()
  }

  /** The reference: every record in id order through one
    * FixedWindowManager per word, with the same monotone watermark.
    */
  def foldWindows(seed: Long, rows: Long): Seq[Emit] = {
    val corpus = WordGenSource.corpus(seed)
    val mgrs = mutable.HashMap[String, FixedWindowManager[Long]]()
    val out = mutable.ArrayBuffer[Emit]()
    var wm = Long.MinValue
    var id = 0L
    while (id < rows) {
      val w = corpus(java.lang.Math.floorMod(WordGenSource.mix(id), WordGenSource.CorpusSize.toLong).toInt)
      val (ts, recWm) = eventTime(seed, id)
      wm = math.max(wm, recWm)
      val m = mgrs.getOrElseUpdate(w, new FixedWindowManager[Long](WindowMs, SlideMs, () => 0L))
      m.add(ts)(_ + 1)
      m.advance(wm).foreach(s => out += ((w, s.start, s.stop, s.state)))
      id += 1
    }
    out.toSeq
  }

  /** `core.speedup_1core`: one iteration on local[1] against local[cores]. */
  def singleCoreWall(ctx: Ctx): Double = {
    val one = ctx.copy(cores = 1)
    iteration(one, -2, Words / 20)
    iteration(one, -3, Words)._1.map(_.wallS).sum
  }
}
