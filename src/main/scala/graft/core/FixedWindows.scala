package graft.core

import scala.collection.mutable

/** One closed (or open) event-time window with its aggregate state. */
final case class WindowSlice[S](start: Long, stop: Long, state: S)

/** Sliding/tumbling fixed-window math and per-key window bookkeeping.
  *
  * Semantics re-expressed from the reference's window manager
  * (reference window.go:63-130, verified by its window_test.go:40-152
  * fixtures, ported in FixedWindowsSpec):
  *  - window starts are multiples of `slide`, clamped at 0; a record
  *    with event time ts joins every window [start, start + size) with
  *    start <= ts < start + size (slide > size leaves gaps);
  *  - the watermark is monotone non-decreasing per manager;
  *  - a LATE record (ts below the watermark) is never dropped: it
  *    re-opens its windows ad hoc, which close again on the next
  *    watermark advance — producing duplicate emissions for the same
  *    window bounds (reference README.md:27-77, golden output
  *    engine_test.go:700-734);
  *  - windows close only when `stop <= wm`; windows still open at
  *    end-of-stream are never emitted.
  *
  * Unlike the reference (map-iteration order, README.md:79-81) closes
  * are emitted deterministically sorted by window start — strictly
  * better, and invisible to the sorted-comparison parity tests.
  */
object FixedWindows {

  /** All window start timestamps covering `ts` (ts >= 0). */
  def assign(ts: Long, size: Long, slide: Long): Seq[Long] = {
    require(size > 0 && slide > 0, "size and slide must be > 0")
    var start = slide * (ts / slide)
    while (start + size > ts) start -= slide
    start += slide
    if (start < 0) start = 0
    val b = Seq.newBuilder[Long]
    while (start <= ts) { b += start; start += slide }
    b.result()
  }
}

/** Per-key window state: open windows by start + the monotone watermark.
  * Drives both the batch parity operator (WindowedOps.windowedAggregate,
  * sorted flatMapGroups) and the streaming one
  * (graft.streaming.StatefulStreams.windowedParity, a step on the one
  * streaming keyed fold StatefulStreams.statefulByKey that restores the
  * manager from its GroupState snapshot per record).
  */
final class FixedWindowManager[S](size: Long, slide: Long, init: () => S) {
  private val open = mutable.Map.empty[Long, S]
  private var wm = -1L

  def watermark: Long = wm

  /** Add a record at `ts` into every containing window (creating them
    * on demand — including ad-hoc re-opened windows for late records).
    */
  def add(ts: Long)(update: S => S): Unit =
    FixedWindows.assign(ts, size, slide).foreach { st =>
      open.update(st, update(open.getOrElse(st, init())))
    }

  /** Advance the watermark with a record's wm and pop every window with
    * stop <= wm, sorted by start.
    */
  def advance(recordWm: Long): Seq[WindowSlice[S]] = {
    if (recordWm > wm) wm = recordWm
    val closed = open.keys.filter(_ + size <= wm).toSeq.sorted
    closed.map { st =>
      val s = open.remove(st).get
      WindowSlice(st, st + size, s)
    }
  }

  /** Snapshot of still-open windows (never emitted downstream; exposed
    * for state checkpointing in the streaming operator).
    */
  def openSnapshot: Map[Long, S] = open.toMap

  def restore(snapshot: Map[Long, S], watermark: Long): Unit = {
    open.clear()
    open ++= snapshot
    wm = watermark
  }
}
