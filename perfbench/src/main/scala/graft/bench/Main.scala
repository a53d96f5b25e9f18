package graft.bench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Everything a workload needs for one run. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, cores: Int,
    dataDir: String, workDir: Path, rec: Recorder, plans: Option[PlanRecorder],
    injectFailure: Boolean) {
  def traced: Boolean = plans.isDefined
  /** The generated tables at one scale factor, e.g. `tables("0.1")`. */
  def tables(sf: String): String = s"$dataDir/sf$sf"
}

/** One timed operation: a job, a query or a micro-batch. */
final case class Op(group: String, kind: String, startUs: Long, endUs: Long, ok: Boolean) {
  def wallS: Double = (endUs - startUs) / 1e6
}

/** Runs one timed operation under a job group of its own (the name plus
  * a run-wide counter, so repeated passes never share a group). A throw
  * marks it failed; it is then counted, never used as a timing sample.
  */
object Ops {
  private val counter = new java.util.concurrent.atomic.AtomicLong()

  def timed(ctx: Ctx, name: String, kind: String)(body: => Unit): Op = {
    val sc = ctx.spark.sparkContext
    val group = s"$name#${counter.incrementAndGet()}"
    sc.setJobGroup(group, kind)
    val t0 = Clock.nowUs
    val ok =
      try { Tracer.groupedSpan(kind, group)(body); true }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: ${e.toString.take(300)}")
        false
      } finally sc.clearJobGroup()
    Op(group, kind, t0, Clock.nowUs, ok)
  }
}

/** What a workload reports. `e2e` and `layer` hold the workload's own
  * metrics; Main adds the ones every workload shares (`cpu_s` and
  * `shuffle_mb` sum the stages of the job groups of the timed operations
  * that succeeded).
  */
final case class Outcome(attempted: Int, failed: Int, correct: Boolean,
    e2e: Map[String, Double], layer: Map[String, Double], ops: Seq[Op],
    notes: Seq[String] = Nil) {
  def groups: Set[String] = ops.filter(_.ok).map(_.group).toSet
}

trait Workload {
  /** Untimed: JIT, codegen and file-system caches, as set-up. */
  def warmup(ctx: Ctx): Unit
  /** Timed measurement followed by untimed output checks. */
  def run(ctx: Ctx): Outcome
}

/** The session configuration `graft.Bench` uses, with the core
  * count given: AQE on, one shuffle partition per core, 4 MiB file splits,
  * a 4096-entry codegen cache, graft's extensions and a UTC clock.
  */
object Session {
  def conf(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.files.maxPartitionBytes" -> "4m",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.ui.enabled" -> "false")

  def start(cores: Int, workDir: Path): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("graft-perfbench")
    conf(cores).foreach { case (k, v) => b.config(k, v) }
    // keep every file the run writes inside its work directory
    b.config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

object Main {
  val workloads: Map[String, Workload] = Map(
    "ssp_dataflow" -> SspDataflow,
    "registry_sf001" -> Registry,
    "stream_stateful" -> Streams)

  val SetupRepeats = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val w = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val trace = a.getOrElse("trace", "0") == "1"
    val cores = a.getOrElse("cores", Runtime.getRuntime.availableProcessors.toString).toInt
    val out = Paths.get(a("out"))
    Files.createDirectories(out)
    val result = measure(w, seed, seconds, trace, cores, a("data"), out,
      a.getOrElse("inject-failure", "0") == "1")
    Files.writeString(out.resolve("result.json"), result + "\n")
  }

  /** Set-up `SetupRepeats` times (the median is `setup_s`), then measure
    * on the last session. Returns the result object as JSON.
    */
  def measure(w: Workload, seed: Long, seconds: Int, trace: Boolean, cores: Int,
      dataDir: String, out: Path, injectFailure: Boolean): String = {
    val starts = Seq.newBuilder[Double]
    val warmups = Seq.newBuilder[Double]
    var ctx: Ctx = null
    (1 to SetupRepeats).foreach { i =>
      if (ctx != null) ctx.spark.stop()
      val t0 = System.nanoTime()
      val spark = Session.start(cores, out)
      val t1 = System.nanoTime()
      val rec = new Recorder
      spark.sparkContext.addSparkListener(rec)
      ctx = Ctx(spark, seed, seconds, cores, dataDir, out, rec, None, injectFailure)
      w.warmup(ctx)
      val t2 = System.nanoTime()
      starts += (t1 - t0) / 1e9
      warmups += (t2 - t1) / 1e9
      System.err.println(f"[perfbench] set-up $i: session ${(t1 - t0) / 1e9}%.2f s, warm-up ${(t2 - t1) / 1e9}%.2f s")
    }
    val plans = if (trace) Some(new PlanRecorder) else None
    plans.foreach(ctx.spark.listenerManager.register)
    ctx = ctx.copy(plans = plans)
    val (start, warm) = (starts.result(), warmups.result())
    val setup = start.zip(warm).map { case (s, w) => s + w }

    val jitBefore = jitMs()
    val (compilesBefore, compileNsBefore) = codegen()
    Tracer.on = trace
    val tRun = System.nanoTime()
    val o = w.run(ctx)
    Tracer.on = false
    System.err.println(f"[perfbench] measured and checked in ${(System.nanoTime() - tRun) / 1e9}%.2f s")
    val (compiles, compileNs) = codegen()
    val jitAfter = jitMs()
    // the traced run repeats the measurement with tracing off; the
    // difference is the tracing overhead
    plans.foreach(ctx.spark.listenerManager.unregister)
    val untracedTime = if (trace) Some(untracedWall(w, ctx)) else None
    ctx.rec.drain()
    val stages = ctx.rec.stagesOf(o.groups)
    val e2e = o.e2e ++ Map(
      "setup_s" -> Stats.median(setup),
      "cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
      "shuffle_mb" -> stages.map(_.shuffleWriteBytes).sum / 1048576.0)
    val layer = if (!trace) Map.empty[String, Double] else {
      val overhead = untracedTime.map(u => o.e2e("wall_s") / u - 1.0).getOrElse(0.0)
      Tracer.write(out.resolve("spans.json"))
      o.layer ++ Layers.queries(ctx, o) ++ Map(
        "queries.codegen_compiles" -> (compiles - compilesBefore).toDouble,
        "queries.codegen_ms" -> (compileNs - compileNsBefore) / 1e6,
        "session.start_s" -> Stats.median(start),
        "session.warmup_s" -> Stats.median(warm),
        "session.jit_ms" -> (jitAfter - jitBefore).toDouble,
        "session.peak_heap_mb" -> peakHeapMb(),
        "bench.fail_ratio" -> o.failed.toDouble / math.max(o.attempted, 1),
        "bench.spans" -> Tracer.count.toDouble,
        "bench.tracing_overhead_share" -> overhead)
    }
    ctx.spark.stop()
    val speedup = if (trace && w == SspDataflow) {
      val one = Session.start(1, out)
      val rec = new Recorder
      one.sparkContext.addSparkListener(rec)
      try Map("core.speedup_1core" ->
        SspDataflow.singleCoreWall(ctx.copy(spark = one, cores = 1, rec = rec, plans = None)) / o.e2e("wall_s"))
      finally one.stop()
    } else Map.empty[String, Double]
    Json.obj(Seq(
      "correct" -> o.correct.toString,
      "attempted" -> o.attempted.toString,
      "failed" -> o.failed.toString,
      "notes" -> Json.arr(o.notes.map(Json.str)),
      "e2e" -> Json.obj(e2e.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "layer" -> Json.obj((layer ++ speedup).toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
  }

  /** The same measurement with tracing off, for the overhead share. */
  private def untracedWall(w: Workload, ctx: Ctx): Double = {
    val o = w.run(ctx.copy(plans = None))
    o.e2e("wall_s")
  }

  /** Janino compiles so far: count and total nanoseconds. */
  private def codegen(): (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  private def jitMs(): Long =
    Option(java.lang.management.ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime).getOrElse(0L)

  private def peakHeapMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }
}
