package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec
import graft.core.{Stamped, WindowParityFixture}

/** Structured Streaming parity: the same reference goldens (F1, F4)
  * produced incrementally from a MemoryStream through
  * flatMapGroupsWithState — including state checkpointing across
  * micro-batches (the fixture is fed in several chunks to force
  * GroupState round-trips).
  */
class StreamingParitySpec extends SparkSpec {
  import spark.implicits._

  private def runToMemorySink[T: org.apache.spark.sql.Encoder](
      name: String)(q: org.apache.spark.sql.Dataset[T]): Seq[T] = {
    val query = q.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    spark.table(name).as[T].collect().toSeq
  }

  test("F1 streaming: running word count via flatMapGroupsWithState") {
    val words = "hello this is ssp hello this is sparta sparta is leonida".split(" ").toSeq
    implicit val sql = spark.sqlContext
    val in = MemoryStream[String]
    // two chunks -> state must persist across micro-batches
    in.addData(words.take(5))
    in.addData(words.drop(5))
    val out = StatefulStreams.statefulByKey(in.toDS(), (w: String) => w, 0) {
      (n: Int, w: String) => (n + 1, Seq(s"$w: ${n + 1}"))
    }
    val got = runToMemorySink("f1_streaming")(out)
    val want = Seq(
      "hello: 1", "hello: 2", "is: 1", "is: 2", "is: 3", "leonida: 1",
      "sparta: 1", "sparta: 2", "ssp: 1", "this: 1", "this: 2")
    assert(got.sorted == want.sorted)
  }

  test("F3 streaming: fan-out + align zips positionally across micro-batches") {
    // the reference's align pattern (engine_test.go:530-614) in its
    // streaming form: interleaved source-tagged records, two FIFOs in
    // GroupState, state surviving the micro-batch boundary mid-stream
    implicit val sql = spark.sqlContext
    val src = Seq("hello", "this", "is", "ssp")
    val upper = src.zipWithIndex.map { case (v, i) => (i.toLong * 2, 0, v.toUpperCase) }
    val lens = src.zipWithIndex.map { case (v, i) => (i.toLong * 2 + 1, 1, v.length.toString) }
    val interleaved = (upper ++ lens).sortBy(_._1)
    val in = MemoryStream[(Long, Int, String)]
    in.addData(interleaved.take(3))
    in.addData(interleaved.drop(3))
    val out = StatefulStreams.statefulByKey(in.toDS(), (_: (Long, Int, String)) => 0,
      (List.empty[String], List.empty[String])) {
      case ((ups, ls), (_, source, v)) =>
        val (u2, l2) = if (source == 0) (ups :+ v, ls) else (ups, ls :+ v)
        if (u2.nonEmpty && l2.nonEmpty)
          ((u2.tail, l2.tail), Seq(s"${u2.head}: ${l2.head}"))
        else ((u2, l2), Seq.empty)
    }
    val got = runToMemorySink("f3_streaming")(out)
    assert(got.sorted == Seq("HELLO: 5", "IS: 2", "SSP: 3", "THIS: 4").sorted)
  }

  test("F4 streaming: windowed word count golden output across micro-batches") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Stamped[String]]
    val chunks = WindowParityFixture.stamped.grouped(7).toSeq
    chunks.foreach(in.addData(_))
    val out = StatefulStreams.windowedParity(
      in.toDS(), (w: String) => w, size = 5L, slide = 2L, () => 0)((n, _) => n + 1)
    val got = runToMemorySink("f4_streaming")(out)
      .map { case (k, start, stop, n) => s"[$start, $stop): $k - $n" }
    assert(got.sorted == WindowParityFixture.golden.sorted)
  }

  test("keyed fold: a micro-batch fed in reverse arrival order folds in arrival order") {
    implicit val sql = spark.sqlContext
    // each record emits (key, previous seq, seq): any other fold order
    // changes the output
    val rows = for (k <- 0L until 3L; s <- 1L to 20L) yield (k, k * 100 + s)
    def fold(name: String, feed: Seq[(Long, Long)]): Seq[(Long, Long, Long)] = {
      val in = MemoryStream[(Long, Long)]
      in.addData(feed) // one micro-batch
      runToMemorySink(name)(StatefulStreams.statefulByKey(in.toDS())(
          _._1, arrival = Some(Ordering.by(_._2))) {
        (k: Long, prev: Option[Long], r: (Long, Long), emit: ((Long, Long, Long)) => Unit) =>
          emit((k, prev.getOrElse(-1L), r._2))
          Some(r._2)
      })
    }
    val want = rows.groupBy(_._1).toSeq.flatMap { case (k, rs) =>
      val seqs = rs.map(_._2).sorted
      (-1L +: seqs.init).zip(seqs).map { case (p, s) => (k, p, s) }
    }
    assert(fold("fold_sorted", rows).sorted == want.sorted)
    assert(fold("fold_reversed", rows.reverse).sorted == want.sorted)
  }

  test("keyed fold: a step returning None removes the key's state entry") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, Boolean)] // (key, close)
    val out = StatefulStreams.statefulByKey(in.toDS())(_._1) {
      (k: Long, n: Option[Long], r: (Long, Boolean), emit: ((Long, Long)) => Unit) =>
        val m = n.getOrElse(0L) + 1
        if (r._2) { emit((k, m)); None } else Some(m)
    }
    val q = out.writeStream.format("memory").queryName("fold_remove")
      .outputMode("append").start()
    def stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    try {
      in.addData((0L until 5L).map((_, false)))
      q.processAllAvailable()
      assert(stateRows == 5L)
      in.addData((0L until 5L).map((_, true)))
      q.processAllAvailable()
      assert(stateRows == 0L)
      assert(spark.table("fold_remove").as[(Long, Long)].collect().sorted.toSeq ==
        (0L until 5L).map((_, 2L)))
    } finally q.stop()
  }

  test("native sliding window counts run on a stream") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String)]
    in.addData(Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), "a"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:03"), "a"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), "b")))
    val df = in.toDF().toDF("ts", "k")
    val out = StatefulStreams.slidingCounts(df, "ts", "k", "10 seconds", "5 seconds", "5 seconds")
    val query = out.writeStream.format("memory").queryName("native_slide")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    query.awaitTermination()
    val rows = spark.table("native_slide").collect()
    assert(rows.nonEmpty)
  }
}
