package graft.bench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, timestamp_millis}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.queries.EventWindows
import graft.streaming.{NoForkFileSystem, StatefulStreams}

/** Two open-loop stateful streams over the same input, one after the
  * other.
  *
  * The sf0.1 `events` table, ordered by event time, is replayed at a
  * fixed rate by one generator thread on its own schedule: every tick
  * (0.5x-1.5x of `TickMs`, drawn from the seed) it adds the events that
  * have fallen due as one chunk. Each event is due at
  * t0 + i / rate; its latency runs from then to the end of the sink call
  * of the micro-batch that consumed it, so a stall delays every event
  * queued behind it. The first `RampMs` of each replay are fed on the
  * same schedule but not timed: a fresh query's first micro-batches plan,
  * open their state stores and run colder code, and at a few dozen
  * batches a run those set its p90. The generator's own lateness and the backlog are
  * recorded; a backlog that keeps growing makes the run unsustainable
  * and every micro-batch counts as failed.
  *
  * - attribution: `streamingAttributionEdges` (NoTimeout) on the
  *   HDFS-backed state store: one state row per user, updated on every
  *   event, never evicted.
  * - ttl_dedup: `ttlDedupEventTime` (transformWithState) on RocksDB:
  *   entries inserted on a user's first event, evicted by event-time
  *   timers.
  *
  * Both checkpoint through nofork:// (graft's fork-free local file
  * system), so per-file metadata calls do not fork a process.
  */
object Streams extends Workload {
  type Ev = (Long, Long, String, Long) // event_id, user_id, event_type, ts_ms

  val Sf = "0.1"
  val Rate = 2000 // events per second, into each stream
  val TickMs = 50
  val LeadMs = 200L // the schedule starts this long after the queries
  val RampMs = 1500 // fed on schedule before the timed events, not timed

  /** One chunk the generator added: feed rows [from, until). */
  final case class Chunk(index: Int, from: Int, until: Int, scheduledUs: Long, addedUs: Long)

  /** The events to replay, in event-time order. */
  def feed(spark: SparkSession, dataDir: String): Array[Ev] = {
    import spark.implicits._
    graft.Tables.events(spark, dataDir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_ms"))
      .orderBy(col("ts_ms"), col("event_id")).as[Ev].collect()
  }

  /** One stateful query the generator feeds. */
  abstract class Job(val name: String, provider: String) {
    def query(in: MemoryStream[Ev]): DataFrame
    /** Rows added after the timed replay so the output can be compared. */
    def closing(fed: Seq[Ev]): Seq[Ev] = Nil
    /** Problems found comparing the output with a reference. */
    def check(ctx: Ctx, fed: Seq[Ev], batches: Seq[(StreamingQueryProgress, Seq[Ev])],
        out: Seq[Row]): Seq[String]

    def start(ctx: Ctx, dir: java.nio.file.Path, sink: (Dataset[Row], Long) => Unit,
        in: MemoryStream[Ev]): StreamingQuery = {
      ctx.spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        s"org.apache.spark.sql.execution.streaming.state.$provider")
      val ckpt = NoForkFileSystem.install(ctx.spark, dir.resolve(name).toString)
      Tracer.span(s"streaming.$name") {
        query(in).writeStream.foreachBatch(sink)
          .option("checkpointLocation", ckpt).outputMode("append").start()
      }
    }
  }

  object Attribution extends Job("attribution", "HDFSBackedStateStoreProvider") {
    def query(in: MemoryStream[Ev]): DataFrame =
      StatefulStreams.streamingAttributionEdges(
        in.toDF().toDF("event_id", "user_id", "event_type", "ts_ms"), None).toDF("from", "to")

    /** One far-future purchase per user, so every final session converts:
      * then the NoTimeout stream and the batch derivation define the same
      * edge multiset.
      */
    override def closing(fed: Seq[Ev]): Seq[Ev] = {
      val closeTs = fed.map(_._4).maxOption.getOrElse(0L) + 10L * 1800000L
      fed.map(_._2).distinct.sorted.zipWithIndex
        .map { case (u, i) => (10000000L + i, u, "purchase", closeTs) }
    }

    /** The edge multiset equals batch `attributionEdgesOf` over the feed. */
    def check(ctx: Ctx, fed: Seq[Ev], batches: Seq[(StreamingQueryProgress, Seq[Ev])],
        out: Seq[Row]): Seq[String] = {
      val spark = ctx.spark
      import spark.implicits._
      val got = out.map(r => (r.getString(0), r.getString(1))).groupBy(identity).view.mapValues(_.size).toMap
      val want = EventWindows.attributionEdgesOf(
          fed.toDF("event_id", "user_id", "event_type", "ts_ms")
            .selectExpr("user_id", "event_id", "event_type", "ts_ms"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
        .groupBy(identity).view.mapValues(_.size).toMap
      if (got == want) Nil
      else Seq(s"attribution: edge multiset differs from batch attributionEdgesOf " +
        s"(${out.size} streamed, ${want.values.sum} batch)")
    }
  }

  object TtlDedup extends Job("ttl_dedup", "RocksDBStateStoreProvider") {
    val TtlMs: Long = 6L * 3600 * 1000
    type R = (Long, Long, String, Long, java.sql.Timestamp) // an event and its event time

    def query(in: MemoryStream[Ev]): DataFrame = {
      val spark = in.sparkSession
      import spark.implicits._
      val wm = in.toDS().withColumn("ets", timestamp_millis(col("_4")))
        .withWatermark("ets", "0 milliseconds").as[(Long, Long, String, Long, java.sql.Timestamp)]
      StatefulStreams.ttlDedupEventTime(wm, (r: R) => r._2, (r: R) => r._4,
        java.time.Duration.ofMillis(TtlMs)).toDF().select(col("_2").as("user_id"), col("_4").as("ts_ms"))
    }

    /** The reference: one entry per user holding its expiry, folded over
      * the executed micro-batches in order with each batch's watermark. A
      * batch drops rows at or behind its watermark, emits the earliest row
      * of each user without a live entry, then fires the timers its
      * watermark has reached.
      */
    def fold(batches: Seq[(Long, Seq[Ev])]): Seq[(Long, Long)] = {
      val live = mutable.HashMap[Long, Long]()
      val out = mutable.ArrayBuffer[(Long, Long)]()
      batches.foreach { case (wm, rows) =>
        rows.filter(_._4 > wm).groupBy(_._2).foreach { case (u, rs) =>
          if (!live.contains(u)) {
            val first = rs.map(_._4).min
            out += ((u, first))
            live(u) = first + TtlMs
          }
        }
        live.filterInPlace { case (_, exp) => exp > wm }
      }
      out.toSeq
    }

    def check(ctx: Ctx, fed: Seq[Ev], batches: Seq[(StreamingQueryProgress, Seq[Ev])],
        out: Seq[Row]): Seq[String] = {
      val wms = batches.map { case (p, rows) =>
        (Option(p.eventTime.get("watermark")).map(java.time.Instant.parse(_).toEpochMilli).getOrElse(0L), rows)
      }
      val want = fold(wms).groupBy(identity).view.mapValues(_.size).toMap
      val got = out.map(r => (r.getLong(0), r.getLong(1))).groupBy(identity).view.mapValues(_.size).toMap
      if (got == want) Nil
      else Seq(s"ttl_dedup: ${out.size} emissions differ from the first-occurrence fold " +
        s"(${want.values.sum}; only streamed ${(got.keySet -- want.keySet).take(3)}, " +
        s"only folded ${(want.keySet -- got.keySet).take(3)})")
    }
  }

  val jobs: Seq[Job] = Seq(Attribution, TtlDedup)

  /** A started job, its input and what its sink and listener collect. */
  final class Running(val job: Job, val in: MemoryStream[Ev]) {
    val emitted = new ConcurrentLinkedQueue[Row]()
    val emitUs = new ConcurrentHashMap[Long, java.lang.Long]()
    val processed = new AtomicLong()
    var q: StreamingQuery = _
    var failure: Option[String] = None
    val sink: (Dataset[Row], Long) => Unit = { (b, id) =>
      b.collect().foreach(emitted.add)
      emitUs.put(id, Clock.nowUs)
    }
  }

  /** Three chunks through each stream: the micro-batch path compiles. */
  def warmup(ctx: Ctx): Unit = {
    val f = feed(ctx.spark, ctx.tables(Sf)).take(3 * Rate / 8)
    jobs.foreach(j => replay(ctx, j, f, f.length, warm = true))
  }

  /** Each stream alone, timed for three quarters of the measured seconds
    * after its ramp: run side by side, the two contended for the cores in
    * a pattern that changed from run to run and moved batch walls by a
    * third. Three quarters keep ~8 of ~80 timed micro-batches beyond the
    * p90 (4 cores).
    */
  def run(ctx: Ctx): Outcome = {
    val all = feed(ctx.spark, ctx.tables(Sf))
    val n = math.min(all.length.toLong - ramp, Rate.toLong * math.max(1, ctx.seconds * 3 / 4)).toInt
    val rs = jobs.map(j => replay(ctx, j, all, n, warm = false))
    val timed = rs.flatMap(_.timed)
    val batchWalls = timed.map(_.batchDuration / 1000.0)
    // each stream's own wall quantile, averaged: the streams' walls differ
    // and so do their batch counts, so a pooled quantile would jump between them
    def wallQ(q: Double) =
      rs.map(r => Stats.quantile(r.timed.map(_.batchDuration / 1000.0), q)).sum / rs.size
    val latMs = rs.flatMap(_.latMs)
    val unsustainable = rs.filterNot(_.sustainable).map(_.job.name)
    val notes = rs.flatMap(_.notes) ++ unsustainable.map(j =>
      s"$j: backlog kept growing at $Rate events/s; latencies are not valid")
    val attempted = math.max(timed.size, 1)
    val failed = if (unsustainable.nonEmpty || rs.exists(_.failure.isDefined)) attempted else 0
    val e2e = Map(
      "rows_per_s" -> rs.map(_.n).sum / math.max(rs.map(_.wallS).sum, 1e-9),
      "wall_s" -> batchWalls.sum,
      "query_wall_p50_s" -> wallQ(0.5),
      "query_wall_p75_s" -> wallQ(0.75),
      "event_latency_p50_ms" -> Stats.quantile(latMs, 0.5),
      "event_latency_p90_ms" -> Stats.quantile(latMs, 0.9))
    val layer = if (!ctx.traced) Map.empty[String, Double] else
      streamingLayer(timed, rs.map(_.n).sum, rs.map(_.last)) ++ Map(
        "bench.generator_lag_ms_p99" -> Stats.quantile(rs.flatMap(_.lagsMs), 0.99),
        "bench.backlog_rows_max" -> rs.flatMap(_.backlog.map(_._2)).maxOption.getOrElse(0L).toDouble,
        "bench.sustainable" -> (if (unsustainable.isEmpty) 1.0 else 0.0),
        "bench.event_latency_batches" -> timed.size.toDouble)
    Outcome(attempted, failed, rs.forall(_.ok), e2e, layer, rs.map(_.op), notes)
  }

  /** What one stream's replay measured. */
  final case class Replayed(job: Job, n: Int, op: Op, timed: Seq[StreamingQueryProgress],
      latMs: Seq[Double], lagsMs: Seq[Double], backlog: Seq[(Long, Long)],
      last: Option[StreamingQueryProgress], failure: Option[String], notes: Seq[String],
      ok: Boolean) {
    def wallS: Double = op.wallS
    def sustainable: Boolean = Streams.sustainable(backlog, Rate)
  }

  private val runs = new AtomicLong()

  /** Events fed before the timed ones in a measured replay. */
  val ramp: Int = (Rate.toLong * RampMs / 1000).toInt

  /** Replays `n` events (after `ramp` untimed ones, unless warming up)
    * into `job` open loop, drains it, adds its closing rows and checks
    * its output over everything fed.
    */
  def replay(ctx: Ctx, job: Job, all: Array[Ev], n: Int, warm: Boolean): Replayed = {
    val spark = ctx.spark
    import spark.implicits._
    val dir = ctx.workDir.resolve(s"stream-${runs.incrementAndGet()}")
    val r = new Running(job, MemoryStream[Ev](implicitly[Encoder[Ev]], spark))
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        r.processed.addAndGet(p.numInputRows)
        val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
        Tracer.record(s"micro-batch ${p.batchId}", Tracer.groupSpan(p.runId.toString),
          startUs, startUs + p.batchDuration * 1000L,
          p.durationMs.asScala.map { case (k, v) => k -> v.toString }.toMap)
      }
    }
    spark.streams.addListener(listener)
    r.q = job.start(ctx, dir, r.sink, r.in)
    Tracer.groupedSpan(s"stream ${job.name}", r.q.runId.toString)(())
    // the open-loop schedule: event i is due at t0 + i / rate
    val t0 = Clock.nowUs + LeadMs * 1000
    val rnd = new scala.util.Random(ctx.seed)
    val chunks = mutable.ArrayBuffer[Chunk]()
    val backlog = mutable.ArrayBuffer[(Long, Long)]()
    val skip = if (warm) 0 else ramp
    val total = skip + n
    var rampChunks = if (skip == 0) 0 else -1
    var sent = 0
    var tick = t0
    while (sent < total) {
      tick += ((0.5 + rnd.nextDouble()) * TickMs * 1000).toLong
      val wait = tick - Clock.nowUs
      if (wait > 0) Thread.sleep(wait / 1000, ((wait % 1000) * 1000).toInt)
      val now = Clock.nowUs
      val due = if (warm) math.min(total, sent + Rate / 8)
        else math.min(total.toLong, (now - t0) * Rate / 1000000L).toInt
      if (due > sent) {
        // a chunk never spans the end of the ramp
        val upTo = if (sent < skip) math.min(due, skip) else due
        r.in.addData(all.slice(sent, upTo).toSeq)
        chunks += Chunk(chunks.size, sent, upTo, tick, Clock.nowUs)
        sent = upTo
        if (sent == skip && rampChunks < 0) rampChunks = chunks.size
      }
      backlog += ((now, sent - r.processed.get()))
    }
    val timedChunks = chunks.size
    val fed = all.take(total).toSeq
    val close = job.closing(fed)
    r.failure =
      try {
        r.q.processAllAvailable()
        if (close.nonEmpty) {
          r.in.addData(close)
          chunks += Chunk(timedChunks, total, total + close.size, 0L, 0L)
          r.q.processAllAvailable()
        }
        None
      } catch { case e: Throwable => Some(e.toString.take(300)) }
    val progress = r.q.recentProgress.toSeq
    r.q.stop()
    spark.streams.removeListener(listener)

    // executed micro-batches and the chunks each consumed (the memory
    // source's offset advances by one per addData)
    def off(s: String): Int = Option(s).filter(_ != "null").map(_.trim.toInt).getOrElse(-1)
    val full = fed ++ close
    val batches = progress.filter(_.durationMs.containsKey("addBatch")).map { p =>
      val src = p.sources.head
      (p, chunks.slice(off(src.startOffset) + 1, off(src.endOffset) + 1).toSeq)
    }
    val timed = batches.filter { case (p, c) =>
      c.nonEmpty && c.forall(x => x.index >= rampChunks && x.index < timedChunks) &&
        r.emitUs.containsKey(p.batchId)
    }
    val latMs = timed.flatMap { case (p, cs) =>
      val e = r.emitUs.get(p.batchId).longValue
      cs.flatMap(c => (c.from until c.until).map(i => (e - (t0 + i * 1000000L / Rate)) / 1000.0))
    }
    val lastEmit = timed.map(b => r.emitUs.get(b._1.batchId).longValue).maxOption.getOrElse(t0)
    val problems =
      if (warm || r.failure.isDefined) Nil
      else job.check(ctx, full, batches.map { case (p, c) =>
        (p, c.flatMap(x => full.slice(x.from, x.until))) }, r.emitted.asScala.toSeq)
    val timedFrom = t0 + skip * 1000000L / Rate
    if (!warm) System.err.println(f"[perfbench] ${job.name}: ${timed.size} timed micro-batches, " +
      f"wall p50 ${Stats.median(timed.map(_._1.batchDuration.toDouble))}%.0f ms, " +
      f"latency p50 ${Stats.median(latMs)}%.0f ms, p90 ${Stats.quantile(latMs, 0.9)}%.0f ms")
    Replayed(job, n, Op(r.q.runId.toString, s"stream ${job.name}", timedFrom, lastEmit, ok = true),
      timed.map(_._1), latMs,
      chunks.slice(rampChunks, timedChunks).map(c => (c.addedUs - c.scheduledUs) / 1000.0).toSeq,
      backlog.toSeq, progress.lastOption, r.failure,
      r.failure.map(f => s"${job.name}: stream failed: $f").toSeq ++ problems,
      problems.isEmpty && r.failure.isEmpty)
  }

  /** `streaming` and `streaming.state`, from StreamingQueryProgress. */
  private def streamingLayer(ps: Seq[StreamingQueryProgress], rows: Int,
      last: Seq[Option[StreamingQueryProgress]]): Map[String, Double] = {
    def d(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    val st = ps.flatMap(_.stateOperators)
    val wmLag = ps.flatMap { p =>
      for (m <- Option(p.eventTime.get("max")); w <- Option(p.eventTime.get("watermark")))
        yield (java.time.Instant.parse(m).toEpochMilli - java.time.Instant.parse(w).toEpochMilli).toDouble
    }
    Map(
      "streaming.batches" -> ps.size.toDouble,
      "streaming.rows_per_batch_p50" -> Stats.median(ps.map(_.numInputRows.toDouble)),
      "streaming.trigger_ms_p50" -> Stats.quantile(d("triggerExecution"), 0.5),
      "streaming.trigger_ms_p90" -> Stats.quantile(d("triggerExecution"), 0.9),
      "streaming.add_batch_ms_p50" -> Stats.median(d("addBatch")),
      "streaming.query_planning_ms_p50" -> Stats.median(d("queryPlanning")),
      "streaming.latest_offset_ms_p50" -> Stats.median(d("latestOffset")),
      "streaming.wal_commit_ms_p50" -> Stats.median(d("walCommit")),
      "streaming.commit_offsets_ms_p50" -> Stats.median(d("commitOffsets")),
      "streaming.processed_rows_per_s" -> rows / math.max(d("triggerExecution").sum / 1000.0, 1e-9),
      "streaming.state.rows_total" -> last.flatten.map(_.stateOperators.map(_.numRowsTotal).sum).sum.toDouble,
      "streaming.state.rows_updated" -> st.map(_.numRowsUpdated).sum.toDouble,
      "streaming.state.rows_removed" -> st.map(_.numRowsRemoved).sum.toDouble,
      "streaming.state.memory_mb_max" -> st.map(_.memoryUsedBytes / 1048576.0).maxOption.getOrElse(0.0),
      "streaming.state.commit_ms_p50" -> Stats.median(st.map(_.commitTimeMs.toDouble)),
      "streaming.state.update_ms" -> st.map(_.allUpdatesTimeMs).sum.toDouble,
      "streaming.state.removal_ms" -> st.map(_.allRemovalsTimeMs).sum.toDouble,
      "streaming.state.rows_dropped_by_watermark" -> st.map(_.numRowsDroppedByWatermark).sum.toDouble,
      "streaming.state.watermark_lag_ms" -> Stats.median(wmLag))
  }

  /** A backlog is growing when, over the second half of the replay, its
    * least-squares slope adds more than one second of input.
    */
  def sustainable(samples: Seq[(Long, Long)], rate: Int): Boolean = {
    val h = samples.drop(samples.size / 2)
    if (h.size < 3) true
    else {
      val xs = h.map(_._1 / 1e6)
      val ys = h.map(_._2.toDouble)
      val mx = xs.sum / xs.size
      val my = ys.sum / ys.size
      val sxx = xs.map(x => (x - mx) * (x - mx)).sum
      val slope = if (sxx == 0) 0.0 else xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
      slope * (xs.last - xs.head) <= rate
    }
  }
}
