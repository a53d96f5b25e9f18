package graft.bench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds, monotone within the run: listener
  * events carry epoch milliseconds, spans are timed with nanoTime, and
  * both land on this one axis.
  */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseEpochUs + (System.nanoTime() - baseNano) / 1000L
}

final case class JobRec(jobId: Int, group: String, startUs: Long, endUs: Long, ok: Boolean)

final case class StageRec(stageId: Int, jobId: Int, group: String, submitUs: Long, endUs: Long,
    tasks: Int, cpuNs: Long, runMs: Long, gcMs: Long, shuffleWriteBytes: Long, fetchWaitMs: Long,
    spillBytes: Long, inputRows: Long)

/** Job and stage accounting from public SparkListener events. Always on:
  * the end-to-end `cpu_s` and `shuffle_mb` come from it. Every operation
  * the benchmark times runs under its own job group, so jobs and stages
  * are attributed to the operation that caused them.
  */
final class Recorder extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  private val started = new AtomicInteger()
  private val ended = new AtomicInteger()
  private val stagesDone = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach { s => stageGroup.put(s, g); stageJob.put(s, e.jobId) }
    jobStart.put(e.jobId, (g, e.time * 1000L))
    started.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (g, t0) = Option(jobStart.remove(e.jobId)).getOrElse(("", e.time * 1000L))
    val ok = e.jobResult == JobSucceeded
    jobs.add(JobRec(e.jobId, g, t0, e.time * 1000L, ok))
    Tracer.record(s"job ${e.jobId}", Tracer.groupSpan(g), t0, e.time * 1000L,
      Map("job" -> e.jobId.toString, "ok" -> ok.toString))
    ended.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    val g = Option(stageGroup.get(si.stageId)).getOrElse("")
    val sub = si.submissionTime.getOrElse(0L) * 1000L
    val end = si.completionTime.getOrElse(0L) * 1000L
    val job: Int = Option(stageJob.get(si.stageId)).getOrElse(-1)
    if (m != null) stages.add(StageRec(si.stageId, job, g, sub, end, si.numTasks,
      m.executorCpuTime, m.executorRunTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled, m.inputMetrics.recordsRead))
    Tracer.record(s"stage ${si.stageId}", Tracer.groupSpan(g), sub, end,
      Map("stage" -> si.stageId.toString, "name" -> si.name, "tasks" -> si.numTasks.toString))
    stagesDone.incrementAndGet()
  }

  /** Waits until every started job has been reported and the stage count
    * is stable across two polls (listener delivery is asynchronous).
    */
  def drain(): Unit = {
    var stable = 0
    var last = -1L
    var waited = 0
    while (stable < 2 && waited < 100) {
      Thread.sleep(50)
      waited += 1
      val s = stagesDone.get()
      if (started.get() == ended.get() && s == last) stable += 1 else stable = 0
      last = s
    }
  }

  def jobsOf(group: String): Seq[JobRec] = jobs.asScala.filter(_.group == group).toSeq
  def stagesOf(groups: String => Boolean): Seq[StageRec] =
    stages.asScala.filter(s => groups(s.group)).toSeq
}

/** One executed plan, summarised (traced runs only): planning phases,
  * operator families, LogicalRDD scans and (node, metric, value) triples.
  */
final case class ExecRec(phases: Map[String, (Long, Long)], families: Set[String],
    checkpointScans: Int, metrics: Seq[(String, String, Long)]) {
  def startUs: Long = phases.values.map(_._1).minOption.getOrElse(0L)
}

/** Planning phases, operator families and SQLMetrics of every executed
  * plan, from the public QueryExecutionListener (traced runs only).
  */
final class PlanRecorder extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  val execs = new ConcurrentLinkedQueue[ExecRec]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    execs.add(summarise(qe))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    execs.add(summarise(qe))

  private def summarise(qe: QueryExecution): ExecRec = {
    val phases = PlanRecorder.phasesOf(qe)
    val nodes = scala.collection.mutable.ArrayBuffer[SparkPlan]()
    try foreach(qe.executedPlan)(nodes += _)
    catch { case _: Throwable => () }
    val fam = Set.newBuilder[String]
    var scans = 0
    nodes.foreach { p =>
      val cls = p.getClass.getName
      if (cls.contains("PrefixSum")) fam += "plans.prefix_sum"
      if (cls.contains("TopK")) fam += "plans.topk"
      if (p.nodeName.contains("ExistingRDD") || cls.endsWith("RDDScanExec")) {
        fam += "ops.checkpointed"; scans += 1
      }
      if (p.expressions.exists(_.exists(_.getClass.getName.startsWith("graft."))))
        fam += "functions.native"
    }
    val metrics = nodes.toSeq.flatMap { p =>
      p.metrics.toSeq.map { case (k, m) => (p.nodeName, k, m.value) }
    }
    ExecRec(phases, fam.result(), scans, metrics)
  }
}

object PlanRecorder {
  /** Analysis, optimization and planning phases as epoch-µs intervals. */
  def phasesOf(qe: QueryExecution): Map[String, (Long, Long)] =
    qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs * 1000L, p.endTimeMs * 1000L) }
}

final case class Span(id: Long, parent: Long, name: String, startUs: Long, endUs: Long,
    attrs: Map[String, String])

/** In-memory spans of the traced run: name, start, end, parent and the
  * run id, written out when the run ends with each span's self time
  * (its duration minus the part its children cover).
  */
object Tracer {
  @volatile var on = false
  val runId: String = java.util.UUID.randomUUID().toString
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val current = ThreadLocal.withInitial[java.lang.Long](() => 0L)
  private val groups = new ConcurrentHashMap[String, java.lang.Long]()

  def currentId: Long = current.get()
  def groupSpan(group: String): Long = Option(groups.get(group)).map(_.longValue).getOrElse(0L)

  /** Times `body` as a child of the calling thread's current span. */
  def span[A](name: String, attrs: (String, String)*)(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      val t0 = Clock.nowUs
      try body
      finally {
        current.set(parent)
        spans.add(Span(id, parent, name, t0, Clock.nowUs, attrs.toMap))
      }
    }

  /** Like [[span]], and jobs run under job group `group` become its children. */
  def groupedSpan[A](name: String, group: String)(body: => A): A =
    span(name, "group" -> group) {
      if (on) groups.put(group, currentId)
      body
    }

  def record(name: String, parent: Long, startUs: Long, endUs: Long,
      attrs: Map[String, String]): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), parent, name, startUs, endUs, attrs))

  def count: Int = spans.size
  def spansNamed(name: String): Seq[Span] = spans.asScala.filter(_.name == name).toSeq

  def write(path: java.nio.file.Path): Unit = {
    val all = spans.asScala.toSeq.sortBy(_.startUs)
    val kids = all.groupBy(_.parent)
    val rows = all.map { s =>
      val covered = Stats.unionLength(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs))))
      Json.obj(Seq(
        "run" -> Json.str(runId), "id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "start_us" -> s.startUs.toString, "end_us" -> s.endUs.toString,
        "self_us" -> (s.endUs - s.startUs - covered).toString,
        "attrs" -> Json.obj(s.attrs.toSeq.map { case (k, v) => k -> Json.str(v) })))
    }
    java.nio.file.Files.writeString(path, rows.mkString("[\n", ",\n", "\n]\n"))
  }
}
