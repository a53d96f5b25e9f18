package graft

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The profiling main, on the shared session and one [[QueryMetrics]]
  * listener. Tables come from `SPARK_GRAFT_SF_DIR`, cores from
  * `SPARK_GRAFT_CPUS`. Usage:
  *
  *   runMain graft.Prof time <q1,q2,...|all> [reps]
  *   runMain graft.Prof stages <query> [reps]
  *
  * `time` runs the queries in `reps` interleaved full passes into the
  * noop sink (which computes every output column, unlike count()) and
  * reports each query's minimum wall with its executor CPU, shuffle write
  * and spill per run. Full passes, not back-to-back repeats, keep one
  * window of host interference off every sample of a query. Over `all`
  * it also writes `bench_last.json`, the input of
  * `scripts/check_shuffle_drift.py`. A query that throws is listed as
  * failed, is never a sample and makes the command exit non-zero.
  *
  * `stages` prints one query's per-stage table for each run: tasks,
  * executor CPU, run time, GC, shuffle read and write, input records and
  * the stage's call site, so the expensive stage is named, not guessed.
  */
object Prof {
  type QueryFn = (SparkSession, String) => DataFrame

  /** Wall-clock samples of the queries that never threw, and the error of
    * each query that did.
    */
  final case class Timing(samples: Map[String, Seq[Double]], failed: Map[String, String]) {
    def exitCode: Int = if (failed.isEmpty) 0 else 1
  }

  private def run(spark: SparkSession, sfDir: String, group: String, fn: QueryFn): Double = {
    spark.sparkContext.setJobGroup(group, group)
    val t0 = System.nanoTime()
    try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    finally spark.sparkContext.clearJobGroup()
    (System.nanoTime() - t0) / 1e9
  }

  /** Times each query once per pass, `reps` interleaved passes, each run
    * under the query's name as job group. A query that throws is dropped
    * from every later pass and from the samples.
    */
  def time(spark: SparkSession, sfDir: String, queries: Seq[(String, QueryFn)],
      reps: Int): Timing = {
    val samples = mutable.Map[String, List[Double]]()
    val failed = mutable.Map[String, String]()
    for (_ <- 1 to reps; (name, fn) <- queries if !failed.contains(name)) {
      try samples(name) = run(spark, sfDir, name, fn) :: samples.getOrElse(name, Nil)
      catch { case NonFatal(e) => samples.remove(name); failed(name) = e.toString }
    }
    Timing(samples.toMap, failed.toMap)
  }

  /** A query that never threw: its minimum wall and, per run, the executor
    * CPU, shuffle write and spill of the stages its job group ran.
    */
  final case class Row(name: String, bestS: Double, cpuS: Double, shuffleMb: Double,
      spillMb: Double)

  def rows(t: Timing, metrics: QueryMetrics): Seq[Row] =
    t.samples.toSeq.sortBy(_._1).map { case (n, ss) =>
      val st = metrics.stages(n)
      def perRun(f: StageMetrics => Long, scale: Double) = st.map(f).sum / scale / ss.size
      Row(n, ss.min, perRun(_.cpuNs, 1e9), perRun(_.shuffleWriteBytes, 1048576.0),
        perRun(_.spillBytes, 1048576.0))
    }

  /** The bench artifact; spill is listed from 0.05 MB. */
  def artifact(sfDir: String, rows: Seq[Row], failed: Iterable[String]): String = {
    def obj(kvs: Seq[(String, Double)], fmt: String): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + fmt.format(v) }.mkString("{", ",", "}")
    f"""{"n":${rows.size},"sf":"$sfDir","total_s":${rows.map(_.bestS).sum}%.3f,""" +
      s""""queries":${obj(rows.map(r => r.name -> r.bestS), "%.3f")},""" +
      s""""shuffle_mb":${obj(rows.map(r => r.name -> r.shuffleMb), "%.1f")},""" +
      s""""spill_mb":${obj(rows.filter(_.spillMb >= 0.05).map(r => r.name -> r.spillMb), "%.1f")},""" +
      s""""cpu_s":${obj(rows.map(r => r.name -> r.cpuS), "%.2f")},""" +
      s""""failed":${failed.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
  }

  private def printStages(name: String, rep: Int, wall: Double, rows: Seq[StageMetrics]): Unit = {
    println(f"[prof] === $name rep $rep wall=$wall%.2f s, ${rows.size} stages ===")
    println(f"[prof] ${"id"}%5s ${"tasks"}%5s ${"cpu_s"}%7s ${"run_s"}%7s ${"gc_s"}%5s " +
      f"${"shR_mb"}%7s ${"shW_mb"}%7s ${"inRec"}%9s site")
    rows.foreach { s =>
      println(f"[prof] ${s.stageId}%5d ${s.tasks}%5d ${s.cpuNs / 1e9}%7.2f ${s.runMs / 1e3}%7.2f " +
        f"${s.gcMs / 1e3}%5.1f ${s.shuffleReadBytes / 1048576.0}%7.1f " +
        f"${s.shuffleWriteBytes / 1048576.0}%7.1f ${s.recordsIn}%9d ${s.name.take(150)}")
    }
    println(f"[prof] TOTAL cpu=${rows.map(_.cpuNs).sum / 1e9}%.2f " +
      f"run=${rows.map(_.runMs).sum / 1e3}%.2f gc=${rows.map(_.gcMs).sum / 1e3}%.2f " +
      f"shW=${rows.map(_.shuffleWriteBytes).sum / 1048576.0}%.1f MB")
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: graft.Prof time <q1,q2,...|all> [reps] | stages <query> [reps]" +
      " (tables from SPARK_GRAFT_SF_DIR)"
    val sfDir = sys.env.get("SPARK_GRAFT_SF_DIR")
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    if (sfDir.isEmpty || args.length < 2 || !Set("time", "stages")(args(0))) {
      System.err.println(usage)
      sys.exit(2)
    }
    val sf = sfDir.get
    val registry = SparkEntry.queries
    val spark = Session.local(Session.envCores)
    val metrics = new QueryMetrics
    spark.sparkContext.addSparkListener(metrics)
    // untimed warm-up outside any job group: JIT, codegen cache,
    // FileSystem init and AQE paths, so the first timed query does not
    // absorb the session's cold start
    spark.read.parquet(s"$sf/nation.parquet").count()
    Seq("q06_filter_agg", "q26_tumbling_window").foreach { n =>
      registry(n)(spark, sf).write.format("noop").mode("overwrite").save()
    }
    val status = args(0) match {
      case "time" =>
        val all = args(1) == "all"
        val names = if (all) registry.keys.toSeq.sorted else args(1).split(',').toSeq
        val t = time(spark, sf, names.map(n => n -> registry(n)), reps)
        metrics.drain()
        val rs = rows(t, metrics)
        rs.foreach { r =>
          println(f"[prof] ${r.name} min=${r.bestS}%.3f s cpu=${r.cpuS}%.2f s " +
            f"shW=${r.shuffleMb}%.1f MB spill=${r.spillMb}%.1f MB")
        }
        println(f"[prof] total=${rs.map(_.bestS).sum}%.3f s over ${rs.size} queries")
        t.failed.toSeq.sorted.foreach { case (n, e) => println(s"[prof] FAILED $n: $e") }
        if (all) {
          java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_last.json"),
            artifact(sf, rs, t.failed.keys) + "\n")
          println("[prof] wrote bench_last.json")
        }
        t.exitCode
      case "stages" =>
        val name = args(1)
        (1 to reps).foreach { r =>
          val group = s"$name#$r"
          val wall = run(spark, sf, group, registry(name))
          metrics.drain()
          printStages(name, r, wall, metrics.stages(group))
        }
        0
    }
    spark.stop()
    sys.exit(status)
  }
}
