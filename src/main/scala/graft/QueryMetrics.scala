package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One completed stage's task-metric totals, under the job group that
  * submitted it.
  */
final case class StageMetrics(group: String, stageId: Int, name: String, tasks: Int,
    cpuNs: Long, runMs: Long, gcMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long, recordsIn: Long)

/** Stage accounting from public SparkListener events, keyed by job group.
  * Every operation that is measured runs under its own job group, so a
  * stage is attributed to the operation whose job submitted it; stages of
  * jobs outside any group are not recorded.
  */
final class QueryMetrics extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val recorded = new ConcurrentLinkedQueue[StageMetrics]()
  private val jobsStarted = new AtomicInteger()
  private val jobsEnded = new AtomicInteger()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => e.stageIds.foreach(stageGroup.put(_, g)))
    jobsStarted.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val g = stageGroup.get(i.stageId)
    if (g != null && m != null) recorded.add(StageMetrics(g, i.stageId, i.name, i.numTasks,
      m.executorCpuTime, m.executorRunTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
      m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead))
  }

  /** Waits until every started job has ended and the stage count held
    * over two polls (listener delivery is asynchronous), at most 15 s so
    * a wedged bus cannot hang the caller.
    */
  def drain(): Unit = {
    var stable = 0
    var last = -1
    var waited = 0
    while (stable < 2 && waited < 150) {
      Thread.sleep(100)
      waited += 1
      val n = recorded.size
      if (jobsStarted.get == jobsEnded.get && n == last) stable += 1 else stable = 0
      last = n
    }
  }

  def stages(group: String): Seq[StageMetrics] =
    recorded.asScala.filter(_.group == group).toSeq.sortBy(_.stageId)
}
