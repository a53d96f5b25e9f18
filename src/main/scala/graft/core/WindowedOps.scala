package graft.core

import org.apache.spark.sql.{Dataset, Encoder}

/** O10 in batch form: per-key event-time windowed aggregation with the
  * reference's exact semantics (late records re-open windows and
  * re-emit; close on `stop <= wm` only when the key sees a record;
  * open windows at end-of-stream are dropped). See FixedWindows for the
  * semantics contract and citations.
  *
  * Each key's records are processed in arrival (`seq`) order carrying
  * the operator-level monotone watermark (`GStream.assignTimestamps`),
  * which is exactly the per-key view of the reference's per-key window
  * manager clones (engine.go:239-261 + window.go:161-177). One shuffle
  * on the key. Each key's whole group is buffered and sorted in memory
  * (`it.toIndexedSeq.sortBy(_.seq)`), so a task holds its largest
  * key's records at once: memory grows with the records of the hottest
  * key, and a key too large for one task's heap fails the task.
  */
object WindowedOps {

  def windowedAggregate[T, K, S, U](
      stamped: Dataset[Stamped[T]],
      key: T => K,
      size: Long,
      slide: Long,
      init: () => S)(
      add: (S, T) => S)(
      emit: (K, WindowSlice[S]) => U)(
      implicit ek: Encoder[K], eu: Encoder[U]): Dataset[U] =
    stamped.groupByKey(r => key(r.value))
      .flatMapGroups { (k: K, it: Iterator[Stamped[T]]) =>
        val sorted = it.toIndexedSeq.sortBy(_.seq)
        val mgr = new FixedWindowManager[S](size, slide, init)
        val out = Vector.newBuilder[U]
        sorted.foreach { r =>
          mgr.add(r.ts)(s => add(s, r.value))
          mgr.advance(r.wm).foreach(w => out += emit(k, w))
        }
        out.result().iterator
      }
}
