package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import graft.core.{FixedWindowManager, Stamped}

/** Structured Streaming forms of the reference's stateful operators —
  * the incremental-execution side of graft.core. Works identically on
  * batch Datasets (Spark runs flatMapGroupsWithState in batch mode with
  * empty initial state), so one operator body serves both modes — the
  * reference's bounded/unbounded stream split (datastream.go:15-57)
  * collapses into the Dataset abstraction.
  *
  * Every per-key fold here is one call of [[statefulByKey]]: a key
  * selector, an in-batch arrival order and a per-record step. Four
  * GroupState twins are not per-record folds and keep their own
  * operator body: `streamingSkyline` and `streamingPrioritySample`
  * pre-fold each partition before one global key and merge whole
  * candidate sets into state; `streamingPeakConcurrency` and
  * `streamingSprtMonitor` emit once per batch from the final state,
  * not once per record. The `transformWithState` dedups, the native
  * aggregations and the DP release hold no user-written fold at all.
  */
object StatefulStreams {

  // Dataset encoders need no session
  private object encoders extends org.apache.spark.sql.EncoderImplicits
  import encoders._

  /** What a key emits when its processing-time flush fires: a key with
    * no arrivals for `afterMs` calls `emit(key, state, out)` and its
    * state entry is removed (see [[statefulByKey]]).
    */
  final case class Flush[K, S, U](afterMs: Long, emit: (K, S, U => Unit) => Unit)

  /** O3 (reference NewStatefulNode, node.go:66-105): THE keyed stateful
    * fold over a (possibly streaming) Dataset. Per-key state is a Spark
    * GroupState — checkpointed, watermark-evictable, RocksDB-backable at
    * scale — instead of the reference's unbounded in-memory per-key node
    * clones (engine.go:239-244). `step` is the reference's NodeFunc
    * (node.go:47): (key, state, record, emit) => state', 0..N outputs
    * per record appended to one per-batch buffer; a step returning None
    * removes the key's state entry.
    *  - `arrival`: the order a key's records fold in within a
    *    micro-batch (the group is buffered and sorted once); None folds
    *    the group iterator as it comes.
    *  - `mode`: the output mode; Append unless emissions revise rows.
    *  - `flush`: a processing-time timeout (ProcessingTimeTimeout),
    *    re-armed on every arrival; None runs with NoTimeout.
    */
  def statefulByKey[K, T, S, U](ds: Dataset[T])(
      key: T => K,
      arrival: Option[Ordering[T]] = None,
      mode: OutputMode = OutputMode.Append,
      flush: Option[Flush[K, S, U]] = None)(
      step: (K, Option[S], T, U => Unit) => Option[S])(
      implicit ek: Encoder[K], es: Encoder[S], eu: Encoder[U]): Dataset[U] =
    ds.groupByKey(key)
      .flatMapGroupsWithState(mode,
        if (flush.isDefined) GroupStateTimeout.ProcessingTimeTimeout
        else GroupStateTimeout.NoTimeout) {
        (k: K, it: Iterator[T], gs: GroupState[S]) =>
          val out = Vector.newBuilder[U]
          val emit: U => Unit = out += _
          if (gs.hasTimedOut) {
            for (f <- flush; s <- gs.getOption) f.emit(k, s, emit)
            gs.remove()
          } else {
            var st = gs.getOption
            arrival.fold(it)(ord => it.toIndexedSeq.sorted(ord).iterator)
              .foreach(v => st = step(k, st, v, emit))
            st match {
              case Some(s) =>
                gs.update(s)
                flush.foreach(f => gs.setTimeoutDuration(f.afterMs))
              case None => if (gs.exists) gs.remove()
            }
          }
          out.result().iterator
      }

  /** [[statefulByKey]] in (state, record) => (state', outputs) form,
    * every key starting from `init`.
    */
  def statefulByKey[K, T, S, U](
      ds: Dataset[T], key: T => K, init: S)(
      f: (S, T) => (S, Seq[U]))(
      implicit ek: Encoder[K], es: Encoder[S], eu: Encoder[U]): Dataset[U] =
    statefulByKey(ds)(key) { (_: K, st: Option[S], v: T, emit: U => Unit) =>
      val (s2, us) = f(st.getOrElse(init), v)
      us.foreach(emit)
      Some(s2)
    }

  /** O10 streaming parity mode: ssp-exact windowed aggregation via a
    * per-key FixedWindowManager checkpointed in GroupState. Late
    * records re-open windows (never dropped) and windows close on the
    * record-carried watermark — byte-for-byte the reference's golden
    * behavior (engine_test.go:616-744), incrementally. Each record
    * restores the manager from the (watermark, open windows) snapshot,
    * so a record costs O(open windows) — what `advance` costs anyway.
    */
  def windowedParity[K, T, S](
      ds: Dataset[Stamped[T]], key: T => K, size: Long, slide: Long, init: () => S)(
      add: (S, T) => S)(
      implicit ek: Encoder[K], es: Encoder[(Long, Map[Long, S])],
      eu: Encoder[(K, Long, Long, S)]): Dataset[(K, Long, Long, S)] =
    statefulByKey(ds)(r => key(r.value), arrival = Some(Ordering.by(_.seq))) {
      (k: K, st: Option[(Long, Map[Long, S])], r: Stamped[T],
          emit: ((K, Long, Long, S)) => Unit) =>
        val mgr = new FixedWindowManager[S](size, slide, init)
        st.foreach { case (wm, snap) => mgr.restore(snap, wm) }
        mgr.add(r.ts)(s => add(s, r.value))
        mgr.advance(r.wm).foreach(w => emit((k, w.start, w.stop, w.state)))
        Some((mgr.watermark, mgr.openSnapshot))
    }

  /** Production streaming windows (the non-parity path): Spark-native
    * watermark + sliding window aggregation — the semantics the
    * reference's README *wishes* it had (README.md:27-77): one global
    * watermark, late data dropped deterministically past the delay.
    */
  def slidingCounts(df: DataFrame, tsCol: String, keyCol: String,
      size: String, slide: String, delay: String): DataFrame =
    df.withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), size, slide), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col(s"window.start").as("win_start"), col(keyCol), col("n"))

  /** Native session windows (gap-based), beyond the reference's fixed
    * windows (SURVEY.md §2.2 notes sessions are absent there). Batch
    * oracle equivalent: graft.queries.EventWindows.q28.
    */
  def sessionCounts(df: DataFrame, tsCol: String, keyCol: String,
      gap: String, delay: String): DataFrame =
    df.withWatermark(tsCol, delay)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("session_start"), col(keyCol), col("n"))

  /** Incremental MinHash-LSH near-duplicate detection — the streaming
    * form of the batch dedup pillar's candidate generation
    * (graft.queries.Dedup): arriving documents are signed and banded by
    * the SAME codegen MinHash pipeline (Dedup.bandedSignatures), and
    * each LSH bucket's GroupState holds the (doc_id, sig) members seen
    * so far; a new arrival emits one candidate pair per stored member
    * of its bucket, with the estimated Jaccard. Semantics:
    *  - at-least-once pair emission (a pair sharing k bands is emitted
    *    up to k times; follow with a watermarked dropDuplicates for
    *    exactly-once) — in batch mode, `.distinct()` of the output
    *    equals the batch q32 pair set (StreamingNearDupSpec pins this);
    *  - state per bucket is capped at `maxPerBucket` members — the
    *    degenerate-bucket insurance mirroring the batch triangle split:
    *    NEW arrivals past the cap still probe stored members (pairs
    *    against the cap-set are found) but are not stored, bounding
    *    state at O(buckets × maxPerBucket × sigBytes) regardless of how
    *    duplicate-heavy the stream gets. Known miss under the cap: two
    *    new ids arriving at an already-at-cap bucket each pair with the
    *    stored cap-set but not with each other (neither was stored) —
    *    the price of the state bound;
    *  - replayed/duplicate arrivals of an already-stored doc_id emit
    *    nothing (their pair set was emitted on first arrival), so
    *    re-delivered input does not inflate downstream counts.
    */
  def streamingNearDupPairs(
      docs: DataFrame, maxPerBucket: Int = 256): Dataset[(Long, Long, Double)] =
    statefulByKey(graft.queries.Dedup.bandedSignatures(docs)
        .select(col("band"), col("bkey"), col("doc_id"), col("sig"))
        .as[(Int, String, Long, Seq[Long])])(
        r => (r._1, r._2),
        // doc_id order within the micro-batch for deterministic output
        arrival = Some(Ordering.by(_._3))) {
      (_: (Int, String), st: Option[List[(Long, Seq[Long])]],
          r: (Int, String, Long, Seq[Long]), emit: ((Long, Long, Double)) => Unit) =>
        val members = st.getOrElse(Nil)
        val id = r._3; val sig = r._4
        // a replayed/duplicate arrival of a stored member must not
        // re-emit its pair set (it would inflate downstream counts
        // relative to the batch form)
        if (members.exists(_._1 == id)) st
        else {
          members.foreach { case (mid, msig) =>
            var eq = 0
            var i = 0
            while (i < sig.length) { if (sig(i) == msig(i)) eq += 1; i += 1 }
            emit((math.min(id, mid), math.max(id, mid),
              eq.toDouble / graft.queries.Dedup.NumHashes))
          }
          Some(if (members.lengthCompare(maxPerBucket) < 0) (id, sig) :: members else members)
        }
    }

  /** Incremental winnowing substring near-dup — the streaming form of
    * batch q86 (graft.queries.Dedup.substringNearDupPairs): arriving
    * documents are fingerprinted by the SAME content-defined sampled
    * rolling-hash pipeline (Dedup.substringFingerprints), and each
    * fingerprint bucket's GroupState holds the doc_ids seen so far; a
    * new arrival emits one candidate pair per stored member of its
    * bucket. Pair emission is once per SHARED FINGERPRINT (batch q86
    * thresholds on that count; downstream can
    * groupBy(pair).count >= k the same way), and per-bucket state is
    * capped at `maxPerBucket` ids — over-cap NEW arrivals still probe
    * the stored cap-set, bounding state at O(buckets × maxPerBucket ×
    * 8 B) no matter how boilerplate-heavy the stream gets. Two caveats,
    * both prices of the state bound: an already-stored id re-arriving
    * (replay, duplicate (doc,h) rows) emits nothing — its pairs were
    * emitted on first arrival, keeping n_shared counts aligned with
    * batch q86 under re-delivery; and two new ids hitting an
    * already-at-cap bucket pair with the cap-set but not with each
    * other (neither was stored).
    */
  def streamingSubstringPairs(
      docs: DataFrame, maxPerBucket: Int = 256): Dataset[(Long, Long)] =
    statefulByKey(graft.queries.Dedup.substringFingerprints(docs)
        .select(col("doc_id"), col("h"))
        .as[(Long, Long)])(_._2, arrival = Some(Ordering.by(_._1))) {
      (_: Long, st: Option[List[Long]], r: (Long, Long), emit: ((Long, Long)) => Unit) =>
        val members = st.getOrElse(Nil)
        val id = r._1
        // already-stored ids (replays, duplicate (doc,h) rows) skip
        // emission entirely — re-emitting would inflate downstream
        // n_shared counts relative to batch q86
        if (members.contains(id)) st
        else {
          members.foreach(mid => emit((math.min(id, mid), math.max(id, mid))))
          Some(if (members.lengthCompare(maxPerBucket) < 0) id :: members else members)
        }
    }

  /** Streaming per-source token-budget admission gate — the
    * continuous-ingest sibling of batch q98
    * (graft.queries.Sampling): each source's GroupState holds the
    * tokens admitted so far, and an arriving document is admitted iff
    * its source still has budget room when it arrives — the same
    * greedy boundary rule as q98 (the document that crosses the line
    * is admitted; nothing after it). Within a micro-batch documents
    * process in doc_id order for deterministic output.
    *
    * Semantics note vs batch q98: the batch form globally ranks each
    * source by quality BEFORE cutting; a stream cannot sort the
    * future, so admission here is arrival-order — the operator is a
    * quota enforcer (ingest throttling, per-tenant caps), not a
    * quality optimizer. Feed it a quality-ordered backfill and the two
    * coincide. State is one long per source — bounded by schema.
    */
  def streamingTokenBudget(
      docs: DataFrame,
      budget: Long = graft.queries.Sampling.TokenBudget): Dataset[(Long, String, Long, Long)] =
    statefulByKey(docs.select(col("doc_id"), col("source"),
        size(graft.functions.TextFns.tokens(col("text"))).cast("long").as("n_toks"))
        .as[(Long, String, Long)])(_._2, arrival = Some(Ordering.by(_._1))) {
      (_: String, st: Option[Long], r: (Long, String, Long),
          emit: ((Long, String, Long, Long)) => Unit) =>
        val used = st.getOrElse(0L)
        if (used >= budget) Some(used)
        else { emit((r._1, r._2, r._3, used + r._3)); Some(used + r._3) }
    }

  /** Streaming form of batch q147 (graft.queries.EventWindows
    * .latenessAuditOf) — tag each arriving event with the watermark in
    * force when it arrived (max event time over all STRICTLY earlier
    * arrivals minus the allowed delay) and whether it is late. This is
    * what Spark's own watermark does internally, surfaced as data: run
    * it beside a production stream to audit what a given delay WOULD
    * drop before committing to it. State is one long (the running max
    * event time); events sort by event_id within each micro-batch,
    * cross-batch order relies on in-order arrival (the
    * streamingTokenBudget contract). Batch q147 over the same rows
    * aggregates these exact tags — pinned by StreamingSampleSpec.
    */
  def streamingLatenessTags(
      ev: DataFrame,
      delayMs: Long = graft.queries.EventWindows.LateDelayMs): Dataset[(Long, String, Long, Long, Boolean)] =
    statefulByKey(ev.select(col("event_id"), col("event_type"), col("ts_ms"))
        .as[(Long, String, Long)])(_ => 0, arrival = Some(Ordering.by(_._1))) {
      (_: Int, st: Option[Long], r: (Long, String, Long),
          emit: ((Long, String, Long, Long, Boolean)) => Unit) =>
        val maxTs = st.getOrElse(Long.MinValue)
        val wm = if (maxTs == Long.MinValue) Long.MinValue else maxTs - delayMs
        emit((r._1, r._2, r._3, wm, wm != Long.MinValue && r._3 < wm))
        Some(maxTs max r._3)
    }

  /** Streaming form of batch q151 (graft.queries.EventWindows
    * .burstsOf) — per-type hourly counts maintained in GroupState with
    * the burst ratio against the trailing-24h baseline emitted (Update
    * mode) every time an hour's count changes. State is BOUNDED: only
    * the trailing 25 hours survive each update (older hours can never
    * be a baseline again), so a year-long stream holds the same 25
    * longs per type as an hour-long one. With in-order arrival (the
    * streamingTokenBudget contract) every hour's baseline is complete
    * by the time the hour starts filling, so the LAST emission per
    * (type, hour) carries exactly batch q151's row — pinned by
    * StreamingSampleSpec. Hours with an empty baseline emit nothing,
    * matching the batch exclusion.
    */
  def streamingBursts(
      ev: DataFrame): Dataset[(String, Long, Long, Long, Long, Long)] = {
    val w = graft.queries.EventWindows.BurstWindowHours
    val fp = graft.queries.EventWindows.BurstFp
    statefulByKey(ev.select(col("event_type"), expr("ts_ms div 3600000").as("hr"))
        .as[(String, Long)])(
        _._1, arrival = Some(Ordering.by(_._2)), mode = OutputMode.Update) {
      (tp: String, st: Option[Map[Long, Long]], r: (String, Long),
          emit: ((String, Long, Long, Long, Long, Long)) => Unit) =>
        val hr = r._2
        val prior = st.getOrElse(Map.empty[Long, Long])
        val counts = prior.updated(hr, prior.getOrElse(hr, 0L) + 1L)
        val trail = counts.filter { case (h, _) => h >= hr - w && h < hr }
        if (trail.nonEmpty) {
          val tSum = trail.valuesIterator.sum
          val cnt = counts(hr)
          emit((tp, hr, cnt, tSum, trail.size.toLong, cnt * w * fp / tSum))
        }
        val horizon = counts.keysIterator.max - w
        Some(counts.filter { case (h, _) => h >= horizon })
    }
  }

  /** Streaming form of batch q153 (graft.queries.Frontier.skylineOf) —
    * a CONTINUOUSLY-MAINTAINED Pareto frontier (minimize x, maximize
    * y). Each micro-batch partition first folds its own rows down to a
    * LOCAL skyline (the candidate funnel: dominated points die in
    * place, partition-parallel), and only those candidates reach the
    * single global key, whose state IS the current skyline — bounded
    * by the frontier size, which is small by nature, never by the
    * stream. Whenever a batch changes the frontier, the full frontier
    * is re-emitted under an incremented version (Update mode); the
    * max-version emission set equals batch skylineOf over the same
    * rows (pinned by StreamingSampleSpec). Duplicate/replayed points
    * and dominated arrivals leave state untouched and emit nothing.
    */
  def streamingSkyline(pts: DataFrame): Dataset[(Long, Double, Long)] = {
    def dominatesOrEq(a: (Double, Long), b: (Double, Long)): Boolean =
      a._1 <= b._1 && a._2 >= b._2
    def insert(sky: List[(Double, Long)],
        p: (Double, Long)): List[(Double, Long)] =
      if (sky.exists(q => dominatesOrEq(q, p))) sky
      else p :: sky.filterNot(q => dominatesOrEq(p, q))
    pts.select(col("x").cast("double"), col("y").cast("long"))
      .as[(Double, Long)]
      .mapPartitions(it => it.foldLeft(List.empty[(Double, Long)])(insert).iterator)
      .groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: Int, it: Iterator[(Double, Long)],
            gs: GroupState[(Long, List[(Double, Long)])]) =>
          val (v0, sky0) = gs.getOption.getOrElse((0L, List.empty[(Double, Long)]))
          val sky = it.foldLeft(sky0)(insert)
          if (sky == sky0) Iterator.empty
          else {
            gs.update((v0 + 1, sky))
            sky.iterator.map(p => (v0 + 1, p._1, p._2))
          }
      }
  }

  /** Streaming form of batch q154 (graft.queries.Frontier
    * .peakConcurrencyOf) — per-type running peak of simultaneously-open
    * [ts, ts+HoldMs) activity intervals, maintained in GroupState under
    * the in-order arrival contract (streamingTokenBudget /
    * streamingBursts). Because Hold is constant, end times arrive
    * non-decreasing, so the active set is a DEQUE: expire from the
    * head (end <= t — half-open, matching the batch sweep's
    * ends-before-starts tie order), append at the tail. State is
    * bounded by the peak concurrency itself, never the stream; each
    * batch emits one (type, peak, n_events) row (Update mode), and the
    * last emission per type equals batch q154's row (pinned by
    * StreamingSampleSpec).
    */
  def streamingPeakConcurrency(ev: DataFrame): Dataset[(String, Long, Long)] = {
    val hold = graft.queries.Frontier.HoldMs
    ev.select(col("event_type"), col("ts_ms")).as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (tp: String, it: Iterator[(String, Long)],
            gs: GroupState[(Seq[Long], Long, Long)]) =>
          var (active, peak, n) = gs.getOption
            .getOrElse((Seq.empty[Long], 0L, 0L))
          it.map(_._2).toIndexedSeq.sorted.foreach { t =>
            active = active.dropWhile(_ <= t) :+ (t + hold)
            n += 1
            if (active.size > peak) peak = active.size.toLong
          }
          gs.update((active, peak, n))
          Iterator.single((tp, peak, n))
      }
  }

  /** Streaming form of batch q161's scan-only constraint checks
    * (graft.queries.Expectations) — a CONTINUOUS data-quality monitor:
    * every micro-batch folds its rows into per-constraint running
    * (violations, n_rows) counters via a native streaming aggregation
    * (Update mode — partial aggregation map-side, |constraints| rows of
    * state total, no custom state code needed). This is the admission
    * dashboard for an always-on ingest: the batch report audits a
    * snapshot, this watches the stream. Uniqueness/referential checks
    * stay batch-side by design — they need corpus-wide joins, not
    * counters.
    */
  def streamingExpectations(li: DataFrame): DataFrame = {
    val checks = Seq(
      ("qty_range",
        when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L).otherwise(0L)),
      ("discount_range",
        when(col("l_discount") < 0.0 || col("l_discount") > 0.1, 1L).otherwise(0L)))
    li.select(explode(array(checks.map { case (n, v) =>
        struct(lit(n).as("con"), v.as("viol")) }: _*)).as("c"))
      .select(col("c.con").as("con"), col("c.viol").as("viol"))
      .groupBy(col("con"))
      .agg(sum(col("viol")).as("violations"), count(lit(1)).as("n_rows"))
  }

  /** Streaming form of batch q177's attribution stage
    * (graft.queries.EventWindows.ltvCohortsOf): each arriving event is
    * attributed ON ARRIVAL to its user's cohort (first-seen day — one
    * long of state per user) and age offset, emitting
    * (cohort_day, day_offset, cents) facts in Append mode; a
    * downstream aggregation over the emissions reproduces the batch
    * (cohort, offset) revenue cells exactly (pinned by
    * StreamingSampleSpec). In-order arrival per user
    * (streamingTokenBudget contract); within a micro-batch rows sort
    * by day.
    */
  def streamingLtvAttribution(ev: DataFrame): Dataset[(Long, Long, Long)] =
    statefulByKey(ev.select(col("user_id"), col("day"), col("cents"))
        .as[(Long, Long, Long)])(_._1, arrival = Some(Ordering.by(_._2))) {
      (_: Long, st: Option[Long], r: (Long, Long, Long), emit: ((Long, Long, Long)) => Unit) =>
        val cohort = st.getOrElse(Long.MaxValue) min r._2
        emit((cohort, r._2 - cohort, r._3))
        Some(cohort)
    }

  /** Streaming form of batch q168 (graft.queries.EventWindows
    * .transitionMatrixOf) — Markov transitions emitted ON ARRIVAL:
    * per-user state is one (last_type, last_ts) pair; an arrival
    * within the 30-min session gap emits its (from, to) transition,
    * a gap-crossing arrival emits nothing and restarts the session
    * (the q118/q143 boundary). In-order arrival per user
    * (streamingTokenBudget contract); within a micro-batch rows sort
    * by (ts, event_id), the batch window order. State is 2 values per
    * user regardless of history; Append mode — transitions are facts,
    * never revised. Aggregating the emitted pairs reproduces batch
    * q168's count matrix exactly (pinned by StreamingSampleSpec).
    */
  def streamingTransitions(ev: DataFrame): Dataset[(String, String)] = {
    val gapMs = 1800000L
    statefulByKey(ev.select(col("user_id"), col("event_id"), col("event_type"), col("ts_ms"))
        .as[(Long, Long, String, Long)])(_._1, arrival = Some(Ordering.by(t => (t._4, t._2)))) {
      (_: Long, prev: Option[(String, Long)], r: (Long, Long, String, Long),
          emit: ((String, String)) => Unit) =>
        prev.foreach { case (pt, pts) => if (r._4 - pts <= gapMs) emit((pt, r._3)) }
        Some((r._3, r._4))
    }
  }

  /** Streaming form of batch q138 (graft.queries.Sampling
    * .prioritySampleOf) — a CONTINUOUSLY-MAINTAINED priority sample
    * (Duffield–Lund–Thorup): the arriving corpus keeps exactly k
    * sampled documents plus the τ threshold, and every micro-batch
    * re-emits the current sample with fresh Horvitz-Thompson weight
    * estimates (Update mode — the sample is a changing top-k, not an
    * append log). Priorities use the identical IEEE arithmetic as the
    * batch query (w·2^60/(h+1) over the portable md5-prefix hash), so
    * after any micro-batch split the final emission is row-identical
    * to batch q138 over the same rows (pinned by
    * StreamingSampleSpec).
    *
    * Scale: each partition pre-prunes its micro-batch to a local
    * top-(k+1) BEFORE the single global key, so the stateful task
    * receives ≤ partitions·(k+1) candidate rows per batch and holds
    * k+1 rows of state — the constant-key funnel carries candidates,
    * never the stream. Replayed doc_ids dedup against state by id.
    * Nothing is emitted until k+1 distinct documents have arrived (τ
    * is undefined before that — matching the batch contract's
    * requirement of more than k input rows).
    */
  def streamingPrioritySample(
      docs: DataFrame, k: Int): Dataset[(Long, Long, Double, Double)] = {
    val pri = docs.select(col("doc_id"),
        greatest(col("n_chars"), lit(1L)).as("w"),
        (greatest(col("n_chars"), lit(1L)).cast("double") *
          lit(1.152921504606846976e18) /
          (graft.functions.TextFns.hash60(
            concat(lit("pri"), col("doc_id").cast("string"))) + lit(1L))
            .cast("double")).as("priority"))
      .as[(Long, Long, Double)]
    val pruned = pri.mapPartitions { it =>
      it.toIndexedSeq.sortBy(t => (-t._3, t._1)).take(k + 1).iterator
    }
    pruned.groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: Int, it: Iterator[(Long, Long, Double)],
         gs: GroupState[List[(Long, Long, Double)]]) =>
          val merged = (gs.getOption.getOrElse(Nil) ++ it)
            .distinctBy(_._1)
            .sortBy(t => (-t._3, t._1)).take(k + 1).toList
          gs.update(merged)
          if (merged.sizeIs > k) {
            val tau = merged(k)._3
            merged.take(k).iterator.map { case (id, w, p) =>
              (id, w, p, math.max(w.toDouble, tau))
            }
          } else Iterator.empty
      }
  }

  /** Streaming form of batch q126 (graft.queries.EventWindows
    * .turnPairsOf) — SFT turn-pair extraction over a LIVE event
    * stream: per-user GroupState holds (last event, session counter),
    * a gap STRICTLY GREATER than `gapMs` opens a new session (the
    * q28/q118 boundary), and a 'view' immediately followed within its
    * session by a 'click' emits one (prompt, response) pair with the
    * response latency — as the click ARRIVES, not at session close.
    * State is one 4-field row per user, independent of history length.
    * Events are sorted (ts, event_id) within each micro-batch;
    * cross-batch order relies on in-order arrival per user (the same
    * contract as streamingTokenBudget — put a watermark-sorted stage
    * upstream if the transport reorders). Output columns match batch
    * q126, so the parity spec compares them row-for-row.
    */
  def streamingTurnPairs(
      ev: DataFrame, gapMs: Long = 1800000L): Dataset[(Long, Long, Long, Long, Long)] =
    statefulByKey(ev.select(col("user_id"), col("ts_ms"), col("event_id"), col("event_type"))
        .as[(Long, Long, Long, String)])(_._1, arrival = Some(Ordering.by(e => (e._2, e._3)))) {
      // state: (lastTs, lastType, lastId, nSessions); nSessions == 0
      // means no event seen yet
      (user: Long, prev: Option[(Long, String, Long, Long)], r: (Long, Long, Long, String),
          emit: ((Long, Long, Long, Long, Long)) => Unit) =>
        val st = prev.getOrElse((Long.MinValue, "", 0L, 0L))
        val (_, ts, id, typ) = r
        val newSession = st._4 == 0L || ts - st._1 > gapMs
        val sess = if (newSession) st._4 + 1 else st._4
        if (!newSession && st._2 == "view" && typ == "click")
          emit((user, sess, st._3, id, ts - st._1))
        Some((ts, typ, id, sess))
    }

  /** Streaming IVF ingest: arriving embedding vectors are assigned to
    * their max-cosine cell of a STATIC codebook — the ingest half of
    * the q41 IVF ANN layout (graft.queries.Similarity): the batch side
    * trains the codebook, the stream keeps the inverted file fresh.
    *
    * `centroids` must have (cell: int, cvec: array<float>) — e.g. the
    * fixed-point k-means codebook q41 builds. The assignment itself is
    * stateless (a broadcast stream-static join + the same
    * (ccos desc, cell asc) argmax contract as batch q41, as a map-side
    * combined max_by); the per-vector aggregate runs in update mode
    * and its state is one row per vec_id — add a watermark upstream if
    * vec_ids are unbounded. Downstream cell-occupancy counts belong in
    * a separate query (Spark rejects chained streaming aggregations).
    */
  def streamingIvfAssign(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(vecs.sparkSession)
    vecs.join(broadcast(centroids))
      .withColumn("ccos", expr("cosine_sim(embedding, cvec)"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cell"), struct(col("ccos"), (-col("cell")).as("nc"))).as("cell"))
  }

  /** Streaming changelog materialization — the incremental form of
    * [[graft.ops.Changelog]] / batch q108: a keyed change stream
    * (user_id, ts_ms, event_id, event_type, value) folds to its
    * current-state table as one update-mode aggregation (max_by keeps
    * the (ts_ms, event_id)-latest payload, map-side combined; state is
    * one row per key). Unlike the batch form, deletes are EMITTED as
    * an `is_tombstone` flag rather than filtered: an update-mode sink
    * cannot retract a row it no longer receives, so erasure is the
    * upsert sink's move — key on user_id and drop flagged rows there.
    * Late changes are handled by the same latest-wins contract: an
    * out-of-order arrival older than the current state revises
    * n_changes but not the payload.
    */
  def streamingChangelogApply(changes: DataFrame): DataFrame =
    changes.groupBy(col("user_id"))
      .agg(
        max_by(struct(col("event_type").as("last_type"),
            col("value").as("last_value"), col("ts_ms").as("last_ts_ms")),
          struct(col("ts_ms"), col("event_id"))).as("__last"),
        count(lit(1)).as("n_changes"))
      .select(col("user_id"), col("__last.last_type").as("last_type"),
        col("__last.last_value").as("last_value"),
        col("__last.last_ts_ms").as("last_ts_ms"),
        (col("__last.last_type") === "error").as("is_tombstone"),
        col("n_changes"))

  /** First-occurrence-only processor behind [[ttlDedup]]: one boolean
    * ValueState per key with a TTL — Spark evicts the entry `ttl` after
    * its last write, so a key re-arriving past the horizon is emitted
    * again. State is managed by the state store (RocksDB-backable),
    * never an unbounded in-JVM map.
    */
  private class FirstSeenProcessor[K, T](ttl: java.time.Duration)
      extends StatefulProcessor[K, T, T] {
    @transient private var seen: ValueState[Boolean] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen", Encoders.scalaBoolean,
        TTLConfig(ttl))
    override def handleInputRows(
        key: K, rows: Iterator[T], timers: TimerValues): Iterator[T] =
      if (seen.exists()) Iterator.empty
      else { seen.update(true); rows.take(1) }
  }

  /** Exact streaming deduplication over a rolling TTL horizon, on
    * Spark 4's transformWithState (the arbitrary-stateful-processing
    * v2 API): the first arrival of each key is emitted, repeats are
    * dropped while the key's state entry lives, and the entry expires
    * `ttl` after it was written — so state size is bounded by
    * (distinct-key arrival rate × ttl), not by the lifetime of the
    * stream. This is the streaming form of the batch exact-dedup pillar
    * (graft.queries.Dedup q30) for the continuous-ingest case where
    * "seen before" only matters within a freshness window.
    *
    * Requires the RocksDB state store provider (Spark rejects
    * transformWithState on the HDFS-backed provider) and, in this
    * container, a nofork:// checkpoint location ([[NoForkFileSystem]])
    * — the per-micro-batch state schema/metadata file churn through
    * stock RawLocalFileSystem forks `ls`/`chmod` per file, which is
    * pathologically slow here.
    *
    * Operational note: in ProcessingTime time mode the engine always
    * has another batch to run (processing time must advance for TTL
    * expiry), so the query triggers even with no new data — set a real
    * `Trigger.ProcessingTime(interval)` (never the default 0 ms, which
    * spins back-to-back empty batches) and drive tests by polling the
    * sink, not `processAllAvailable()` (which would never return).
    */
  def ttlDedup[K, T](ds: Dataset[T], key: T => K, ttl: java.time.Duration)(
      implicit ek: Encoder[K], et: Encoder[T]): Dataset[T] =
    ds.groupByKey(key)
      .transformWithState(new FirstSeenProcessor[K, T](ttl),
        TimeMode.ProcessingTime(), OutputMode.Append())

  /** Event-time twin of [[FirstSeenProcessor]]: the horizon is anchored
    * at the first occurrence's EVENT time and expired by a watermark-
    * driven timer, so expiry is decided by the data, not the wall
    * clock. State per live key: one Long (the expiry instant) plus one
    * registered timer, both checkpointed.
    */
  private class FirstSeenEventTimeProcessor[K, T](ttlMs: Long, eventTimeMs: T => Long)
      extends StatefulProcessor[K, T, T] {
    @transient private var expiry: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      expiry = getHandle.getValueState[Long]("expiresAt", Encoders.scalaLong,
        TTLConfig.NONE)
    override def handleInputRows(
        key: K, rows: Iterator[T], timers: TimerValues): Iterator[T] =
      if (expiry.exists()) Iterator.empty
      else {
        // one streaming pass keeping the earliest-event-time row: batch
        // iteration order is not deterministic, the event-time min is
        var best: Option[T] = None
        var bestTs = Long.MaxValue
        rows.foreach { r =>
          val t = eventTimeMs(r)
          if (t < bestTs) { bestTs = t; best = Some(r) }
        }
        best match {
          case Some(r) =>
            val at = bestTs + ttlMs
            expiry.update(at)
            getHandle.registerTimer(at)
            Iterator.single(r)
          case None => Iterator.empty
        }
      }
    override def handleExpiredTimer(
        key: K, timers: TimerValues, info: ExpiredTimerInfo): Iterator[T] = {
      if (expiry.exists() && expiry.get() <= info.getExpiryTimeInMs()) expiry.clear()
      Iterator.empty
    }
  }

  /** Event-time variant of [[ttlDedup]]: a key's first occurrence is
    * emitted and repeats are dropped until the WATERMARK passes
    * (first occurrence's event time + ttl) — the horizon is data-
    * determined, so replaying the same input (same batches, same
    * watermarks from the checkpoint) reproduces the same output
    * exactly, where the processing-time form's expiry depends on the
    * wall clock of the run. `ds` must carry a watermark upstream
    * (withWatermark on its event-time column) — TimeMode.EventTime
    * requires it, and it is what advances the timers. Rows whose event
    * time is behind the watermark are dropped before the processor
    * sees them (the native late-data contract; TtlDedupSpec pins it).
    */
  def ttlDedupEventTime[K, T](
      ds: Dataset[T], key: T => K, eventTimeMs: T => Long, ttl: java.time.Duration)(
      implicit ek: Encoder[K], et: Encoder[T]): Dataset[T] =
    ds.groupByKey(key)
      .transformWithState(
        new FirstSeenEventTimeProcessor[K, T](ttl.toMillis, eventTimeMs),
        TimeMode.EventTime(), OutputMode.Append())

  /** Streaming form of batch q179 (graft.queries.Signals
    * .seasonalityOf): the (day-of-week × hour-of-day) activity cells
    * maintained as a live streaming aggregation in Update mode — the
    * state is at most 168 cell counts regardless of stream length, the
    * canonical running-aggregate shape. Day/hour come from the same
    * epoch-ms integer arithmetic as the batch query (no calendar
    * machinery), so the converged cells equal the batch cells exactly;
    * the per-day shares and peak flag are a 7-row derivation OVER the
    * final cell snapshot (a second streaming agg is not composable in
    * Update mode), which the parity spec applies and pins row-identical
    * to batch q179 (StreamingSeasonalitySpec).
    */
  def streamingSeasonality(ev: DataFrame): DataFrame =
    ev.select(expr("(ts_ms div 86400000 + 4) % 7").as("dow"),
        expr("(ts_ms div 3600000) % 24").as("hod"))
      .groupBy(col("dow"), col("hod"))
      .agg(count(lit(1)).as("n_events"))

  /** Streaming form of batch q176's drift cells: per-bucket (n_a, n_b)
    * half-vs-half counts of arriving scored documents, maintained as a
    * live Update-mode aggregation (state = at most 10 bucket rows).
    * One deliberate, documented delta from batch q176: the bucket
    * ruler is FIXED-WIDTH over the quality value (floor(q·10), capped
    * at 9) rather than batch q176's global rank deciles — an
    * equal-mass rank boundary needs the full corpus ordering and is
    * not incrementally maintainable with bounded state, while the
    * fixed ruler is the streaming-native PSI/TVD form every production
    * drift monitor uses. Given the same ruler the cells, shares and
    * TVD match the batch computation exactly across any micro-batch
    * split (StreamingSeasonalitySpec pins this); quality comes from
    * the identical scorer expression (Filtering.qualityScored).
    */
  def streamingDriftCells(scored: DataFrame): DataFrame =
    scored
      .withColumn("bucket",
        least(floor(col("quality") * 10).cast("long"), lit(9L)))
      .groupBy(col("bucket"))
      .agg(sum(when(pmod(col("doc_id"), lit(2)) === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(pmod(col("doc_id"), lit(2)) === 1, 1L).otherwise(0L)).as("n_b"))

  /** Streaming form of batch q185's per-user inter-arrival deltas —
    * gaps emitted ON ARRIVAL: per-user state is the last seen ts only;
    * each arrival after the first emits (user_id, delta_ms). In-order
    * arrival per user (streamingTokenBudget contract); within a
    * micro-batch rows sort by the batch order key (ts_ms, event_id),
    * but a same-timestamp tie SPLIT ACROSS micro-batches orders by
    * arrival — the cross-batch (ts_ms, event_id) tiebreak would need
    * last_event_id in state, and the in-order-arrival contract makes
    * the delta (= 0 either way) identical, so ts-only state is kept.
    * Append mode — deltas are facts, never revised; bucketing the
    * emissions by log2 delta reproduces batch q185's spectrum exactly
    * (StreamingSeasonalitySpec pins it).
    */
  def streamingInterarrival(ev: DataFrame): Dataset[(Long, Long)] =
    statefulByKey(ev.select(col("user_id"), col("event_id"), col("ts_ms"))
        .as[(Long, Long, Long)])(_._1, arrival = Some(Ordering.by(t => (t._3, t._2)))) {
      (user: Long, prev: Option[Long], r: (Long, Long, Long), emit: ((Long, Long)) => Unit) =>
        prev.foreach(pts => emit((user, r._3 - pts)))
        Some(r._3)
    }

  /** Streaming form of batch q191's interval construction — CLOSED
    * validity intervals emitted on arrival: per-user state is the
    * current (event_type, since_ts); each arrival closes the previous
    * interval and emits (event_type, duration_ms). Append mode —
    * closed intervals are facts, never revised; the OPEN interval per
    * user stays in state (batch q191 closes it at the global horizon,
    * an as-of-now reporting convention the stream cannot know — the
    * parity spec therefore pins the closed-interval aggregate, which
    * is the part both sides define identically). In-order arrival per
    * user; within a micro-batch rows sort by (ts_ms, event_id).
    */
  def streamingIntervals(ev: DataFrame): Dataset[(String, Long)] =
    statefulByKey(ev.select(col("user_id"), col("event_id"), col("event_type"), col("ts_ms"))
        .as[(Long, Long, String, Long)])(_._1, arrival = Some(Ordering.by(t => (t._4, t._2)))) {
      (_: Long, cur: Option[(String, Long)], r: (Long, Long, String, Long),
          emit: ((String, Long)) => Unit) =>
        cur.foreach { case (pt, pts) => emit((pt, r._4 - pts)) }
        Some((r._3, r._4))
    }

  /** Streaming form of batch q201's event-pattern scan (CEP): the
    * regex `vc*p` (view, any clicks, purchase, nothing else between)
    * compiled to its 2-state NFA and run ON ARRIVAL with O(1) state per
    * user — state is one Boolean: "currently inside a live `v c*`
    * prefix". Transitions replicate the non-overlapping leftmost regex
    * scan exactly: pending+`c` stays, pending+`p` emits a match and
    * resets, pending+`v` stays pending (a failed earlier start hands
    * over to the later `v` — same as regex backtrack-to-next-start),
    * anything else resets; idle+`v` arms. Append mode — matches are
    * facts. In-order arrival per user (streamingTokenBudget contract);
    * within a micro-batch rows sort by (ts_ms, event_id). Emits
    * (user_id, ts of the completing purchase);
    * StreamingPatternSpec pins per-user match counts to batch q201
    * across arbitrary micro-batch splits.
    */
  def streamingEventPattern(ev: DataFrame): Dataset[(Long, Long)] =
    statefulByKey(ev.select(col("user_id"), col("event_id"), col("ts_ms"),
        expr("substr(event_type, 1, 1)").as("ch"))
        .as[(Long, Long, Long, String)])(_._1, arrival = Some(Ordering.by(t => (t._3, t._2)))) {
      (user: Long, st: Option[Boolean], r: (Long, Long, Long, String),
          emit: ((Long, Long)) => Unit) =>
        val pending = st.getOrElse(false)
        Some(r._4 match {
          case "v" => true
          case "c" => pending // clicks keep a live prefix alive, arm nothing
          case "p" => if (pending) emit((user, r._3)); false
          case _   => false
        })
    }

  /** Streaming form of batch q220's pair generation — co-occurrence
    * pairs emitted ON ARRIVAL: per-order state is the distinct part
    * set seen so far (bounded by basket size — an order has ≤ 7
    * lineitems, the same bound that makes the batch self-join linear);
    * each NEWLY seen part emits one (min, max)-canonical pair with
    * every part already in the basket, so every unordered pair is
    * emitted exactly once per order regardless of how arrivals split
    * across micro-batches. Append mode — pairs are facts; summing
    * downstream reproduces batch q220's support counts exactly
    * (StreamingBasketSpec pins it). Duplicate part arrivals within an
    * order are ignored, matching the batch DISTINCT; within a
    * micro-batch parts fold in part-key order.
    */
  def streamingBasketPairs(li: DataFrame): Dataset[(Long, Long)] =
    statefulByKey(li.select(col("l_orderkey"), col("l_partkey"))
        .as[(Long, Long)])(_._1, arrival = Some(Ordering.by(_._2))) {
      (_: Long, st: Option[Seq[Long]], r: (Long, Long), emit: ((Long, Long)) => Unit) =>
        val seen = st.getOrElse(Seq.empty[Long])
        val p = r._2
        if (seen.contains(p)) st
        else { seen.foreach(q => emit((math.min(p, q), math.max(p, q)))); Some(seen :+ p) }
    }

  /** Streaming form of batch q253's run accounting — the page-level
    * run tracking a columnar writer does ON ARRIVAL, sharded by
    * 1024-row block (event_id DIV 1024): per-block state is the last
    * ingested row's (event_id, event_type, user_id, ts_ms,
    * value_cents); each arrival emits a (col_name, event_id) RUN-START
    * fact for every column whose value differs from its event_id−1
    * predecessor (an id gap, a block boundary, or the block's first
    * row starts runs in ALL columns — the same chain-break rule as the
    * batch self-join, applied at page granularity like a real writer).
    * Append mode — run starts are facts, never revised. Blocks are the
    * parallelism unit: thousands of independent O(1) states instead of
    * one global chain, which is what makes the operator shard at
    * 100 TB. In-order arrival per block; within a micro-batch rows
    * sort by event_id. StreamingEncodingSpec pins per-column run
    * counts to the batch window arithmetic over the same rows.
    */
  def streamingEncodingRuns(ev: DataFrame): Dataset[(String, Long)] =
    statefulByKey(ev.select(col("event_id"), col("event_type"), col("user_id"),
        col("ts_ms"), col("vc"))
        .as[(Long, String, Long, Long, Long)])(_._1 >> 10, arrival = Some(Ordering.by(_._1))) {
      (_: Long, prev: Option[(Long, String, Long, Long, Long)],
          r: (Long, String, Long, Long, Long), emit: ((String, Long)) => Unit) =>
        val (id, et, uid, ts, vc) = r
        val chained = prev.filter(_._1 == id - 1)
        if (!chained.exists(_._2 == et)) emit(("event_type", id))
        if (!chained.exists(_._3 == uid)) emit(("user_id", id))
        if (!chained.exists(_._4 == ts)) emit(("ts_ms", id))
        if (!chained.exists(_._5 == vc)) emit(("value_cents", id))
        Some(r)
    }

  /** Live twin of batch q269's path→edge derivation
    * (EventWindows.attributionEdgesOf): absorbing-chain attribution
    * edges emitted ON ARRIVAL, so the removal-effect model's input
    * counts stay live. Per-user state is (last_ts of ANY event — the
    * session-gap clock runs on raw events, exactly like the batch
    * sessionizer — last kept type, converted?): a session's first
    * event emits START→type (or START→CONV), each pre-conversion
    * event emits prev→type, the first purchase emits prev→CONV and
    * suppresses the rest of the session, and a session's NULL
    * terminal is emitted when the NEXT session's first event proves
    * the gap — the one edge class a stream cannot know for still-open
    * sessions (the streamingIntervals open-interval caveat; the
    * parity spec closes every session with a purchase so the batch
    * and stream define the same edge set). Append mode — edges are
    * facts, never revised. In-order arrival per user; within a
    * micro-batch rows sort by (ts_ms, event_id).
    *
    * State is BOUNDED by a processing-time timeout (`flushAfterMs`,
    * default 2 h — well beyond the 30-min event-time gap): a user with
    * no arrivals for that long is churned, so the pending (lastKept,
    * NULL) terminal of their final unconverted session is flushed and
    * the state entry removed. Without the flush the NULL-edge counts
    * feeding the removal-effect model would permanently understate
    * churned users' terminals AND per-user state would grow without
    * bound. A user who re-appears after a flush simply starts a new
    * session — identical edges to the never-flushed run, because a
    * >2 h processing gap implies a >30 min event-time gap for any
    * stream that is not replaying history faster than it churns.
    * `flushAfterMs = None` disables the timer (the old unbounded
    * behavior): needed by the AvailableNow batch-parity specs, because
    * a processing-time timer makes the engine schedule batches forever
    * (the TtlDedupSpec driving caveat) and AvailableNow never
    * terminates. StateBoundSpec drives the timer path.
    */
  val AttributionFlushMs: Long = 2L * 3600 * 1000

  def streamingAttributionEdges(
      ev: DataFrame,
      flushAfterMs: Option[Long] = Some(AttributionFlushMs)): Dataset[(String, String)] = {
    // churned user: emit the final session's NULL terminal if it never
    // converted; the operator then drops the state entry entirely
    val churn = (_: Long, st: (Long, String, Boolean), emit: ((String, String)) => Unit) =>
      if (!st._3) emit((st._2, "NULL"))
    statefulByKey(ev.select(col("user_id"), col("event_id"), col("event_type"), col("ts_ms"))
        .as[(Long, Long, String, Long)])(
        _._1, arrival = Some(Ordering.by(t => (t._4, t._2))),
        flush = flushAfterMs.map(Flush(_, churn))) {
      // state: (lastTs, lastKeptType, converted)
      (_: Long, st: Option[(Long, String, Boolean)], r: (Long, Long, String, Long),
          emit: ((String, String)) => Unit) =>
        val tp = r._3; val ts = r._4
        val conv = tp == "purchase"
        val mapped = if (conv) "CONV" else tp
        st match {
          case Some((lastTs, lastKept, converted)) if ts - lastTs <= 1800000L =>
            if (converted) Some((lastTs.max(ts), lastKept, converted))
            else { emit((lastKept, mapped)); Some((ts, if (conv) lastKept else tp, conv)) }
          case prev => // first event, or gap > 30 min: new session
            prev.collect { case (_, lastKept, false) => emit((lastKept, "NULL")) }
            emit(("START", mapped))
            Some((ts, if (conv) "START" else tp, conv))
        }
    }
  }

  /** Live twin of batch q264's DP histogram release: the (lang,
    * source) counts are a pure streaming aggregate (Complete mode),
    * and the geometric-mechanism noise is a deterministic scalar of
    * the CELL KEY — so every micro-batch refresh of the released
    * dashboard is post-processing of ONE release. The privacy budget
    * is spent once (ε = ln 2, parallel composition across disjoint
    * cells) no matter how many times the stream re-publishes, which is
    * exactly why the noise must NOT be redrawn per batch: fresh noise
    * per refresh would compose sequentially and burn ε linearly in
    * refresh count. StreamingDpSpec pins the stream bit-equal to the
    * batch release over the union of the batches.
    *
    * The seed is injected (see Privacy.dpRelease's privacy warning):
    * a live release is only private while its seed is secret entropy,
    * and the specs pass the public test vector explicitly.
    */
  def streamingDpRelease(docs: DataFrame, seed: String): DataFrame =
    graft.queries.Privacy.dpRelease(docs, seed)

  /** Live twin of batch q272's Wald SPRT monitor — and the form a
    * sequential test actually exists for: the batch query computes the
    * stopping retrospectively, a live experiment platform HAS to hold
    * the accumulated (trials, conversions) per arm and freeze the
    * verdict at the first boundary crossing. Input is a stream of
    * per-user TRIAL records (arm, enroll_ms, user_id, conv) — already
    * one row per user, e.g. via ttlDedup on user_id upstream.
    *
    * Semantics vs batch: trials fold in ARRIVAL order (micro-batch
    * order, then (enroll_ms, user_id) within a batch — a platform's
    * real enrollment order); after a crossing, `decision`/`n_decided`
    * FREEZE (the test has stopped; later data cannot reverse it —
    * SprtStreamSpec plants exactly that reversal) while n/c keep
    * counting for observability. The LLR recurrence and boundary
    * constants are q272's fixed-point literals, so on identically
    * ordered input the frozen verdict equals the batch first-crossing.
    *
    * State bound: ONE 4-field row per arm (n, c, decision, n_decided)
    * — experiment-arm-sized forever, never trial-sized; nothing to
    * evict (README/STATE, asserted in SprtStreamSpec).
    */
  def streamingSprtMonitor(
      trials: DataFrame): Dataset[(Long, Long, Long, Long, String, Long)] = {
    import graft.queries.Sequential._
    trials.select(col("arm"), col("enroll_ms"), col("user_id"), col("conv"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (arm: Long, it: Iterator[(Long, Long, Long, Long)],
            gs: GroupState[(Long, Long, String, Long)]) =>
          var (n, c, dec, nd) = gs.getOption.getOrElse((0L, 0L, "continue", -1L))
          it.toIndexedSeq.sortBy(t => (t._2, t._3)).foreach { case (_, _, _, conv) =>
            n += 1; c += conv
            if (dec == "continue") {
              val llr = c * (SprtC1 - SprtC0) + n * SprtC0
              if (llr >= SprtA) { dec = "accept_h1"; nd = n }
              else if (llr <= SprtB) { dec = "accept_h0"; nd = n }
            }
          }
          gs.update((n, c, dec, nd))
          (arm, n, c, c * (SprtC1 - SprtC0) + n * SprtC0, dec, nd)
      }
  }

  /** O7 (broadcast fan-out, engine.go:196-211) for streams: one source
    * micro-batch delivered to N sinks via foreachBatch. The batch
    * DataFrame is persisted so the plan is computed once per epoch, not
    * once per sink — the micro-batch-consistent multi-sink pattern.
    */
  def fanOutSinks(df: DataFrame, sinks: Seq[DataFrame => Unit]): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      batch.persist()
      try sinks.foreach(sink => sink(batch))
      finally { batch.unpersist(); () }
    }
}
