package graft.bench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, named after graft's modules. */
object Layers {
  private val MB = 1048576.0

  /** Executed plans whose planning started inside an operation. */
  private def execsIn(ctx: Ctx, op: Op): Seq[ExecRec] =
    ctx.plans.toSeq.flatMap(_.execs.asScala).filter(e => e.startUs >= op.startUs && e.startUs <= op.endUs)

  private def metricSum(execs: Seq[ExecRec], node: String => Boolean, metric: String): Long =
    execs.flatMap(_.metrics).collect { case (n, k, v) if node(n) && k == metric => v }.sum

  /** `queries`, `plans`, `functions` and `ops`: the driver-side split of
    * each operation's wall (planning, jobs, driver gap), its executor
    * side, and operator families found in the executed plans.
    *
    * The split is residual-based: the driver gap is the wall that neither
    * a planning phase nor a job interval covers, so planning + jobs + gap
    * can miss the wall only where planning and jobs overlap (counted
    * twice). `queries.wall_accounting_err_max` is that double count;
    * `queries.unexplained_share` is the share of the wall the measured
    * intervals leave to the residual.
    */
  def queries(ctx: Ctx, o: Outcome): Map[String, Double] = {
    val ops = o.ops.filter(_.ok)
    val groups = ops.map(_.group).toSet
    val stages = ctx.rec.stagesOf(groups)
    var analysis, optimizer, planning, jobS, gap, accErr, wall = 0.0
    var jobs = 0
    var scans = 0
    val family = scala.collection.mutable.Map[String, (Int, Double)]().withDefaultValue((0, 0.0))
    ops.foreach { op =>
      val ex = execsIn(ctx, op)
      def phase(p: String) = ex.flatMap(_.phases.get(p))
      val plan = Seq("analysis", "optimization", "planning").flatMap(phase)
      analysis += phase("analysis").map(i => i._2 - i._1).sum / 1000.0
      optimizer += phase("optimization").map(i => i._2 - i._1).sum / 1000.0
      planning += phase("planning").map(i => i._2 - i._1).sum / 1000.0
      val js = ctx.rec.jobsOf(op.group)
      jobs += js.size
      val jobUnion = Stats.unionLength(js.map(j => (j.startUs, j.endUs))) / 1e6
      val planS = plan.map(i => i._2 - i._1).sum / 1e6
      val covered = Stats.unionLength(js.map(j => (j.startUs, j.endUs)) ++ plan) / 1e6
      val g = math.max(0.0, op.wallS - covered)
      jobS += jobUnion
      gap += g
      wall += op.wallS
      accErr = math.max(accErr, math.abs((planS + jobUnion + g) / math.max(op.wallS, 1e-9) - 1.0))
      // a micro-batch's input is an RDD scan too: operator families and
      // checkpoint scans are counted for batch operations only
      if (!op.kind.startsWith("stream")) {
        scans += ex.map(_.checkpointScans).sum
        val cpu = ctx.rec.stagesOf(_ == op.group).map(_.cpuNs).sum / 1e9
        ex.flatMap(_.families).distinct.foreach { f =>
          val (n, c) = family(f)
          family(f) = (n + 1, c + cpu)
        }
      }
    }
    val fams = Seq("plans.prefix_sum", "plans.topk", "functions.native", "ops.checkpointed")
      .flatMap(f => Seq(s"$f.queries" -> family(f)._1.toDouble, s"$f.cpu_s" -> family(f)._2))
    Map(
      "queries.analysis_ms" -> analysis,
      "queries.optimizer_ms" -> optimizer,
      "queries.planning_ms" -> planning,
      "queries.jobs" -> jobs.toDouble,
      "queries.stages" -> stages.size.toDouble,
      "queries.tasks" -> stages.map(_.tasks).sum.toDouble,
      "queries.job_s" -> jobS,
      "queries.driver_gap_s" -> gap,
      "queries.wall_accounting_err_max" -> accErr,
      "queries.unexplained_share" -> gap / math.max(wall, 1e-9),
      "queries.executor_run_s" -> stages.map(_.runMs).sum / 1000.0,
      "queries.executor_cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
      "queries.gc_s" -> stages.map(_.gcMs).sum / 1000.0,
      "queries.shuffle_fetch_wait_ms" -> stages.map(_.fetchWaitMs).sum.toDouble,
      "queries.spill_mb" -> stages.map(_.spillBytes).sum / MB,
      "queries.checkpoint_scans" -> scans.toDouble) ++ fams
  }

  /** `sources` and `core` (ssp_dataflow only). */
  def core(ctx: Ctx, ops: Seq[Op]): Map[String, Double] = {
    def of(kind: String) = ops.filter(_.kind == kind)
    val ms = of("mapstate")
    val win = of("window")
    val msStages = ctx.rec.stagesOf(ms.map(_.group).toSet)
    val allStages = ctx.rec.stagesOf(ops.map(_.group).toSet)
    val scan = allStages.filter(_.inputRows > 0)
    val msExecs = ms.flatMap(execsIn(ctx, _))
    // with AQE every shuffle stage is a job of its own: the windows'
    // keyed shuffle and result are an iteration's last two jobs, the ones
    // before them (range sampling, range exchange, carry) are
    // assignTimestamps'
    val tsJobs = win.flatMap(op => ctx.rec.jobsOf(op.group).sortBy(_.startUs).dropRight(2))
    val tsJobIds = tsJobs.map(_.jobId).toSet
    val sortNode: String => Boolean = _.startsWith("Sort")
    Map(
      "sources.rows" -> scan.map(_.inputRows).sum.toDouble,
      "sources.scan_stage_s" -> scan.map(s => (s.endUs - s.submitUs) / 1e6).sum,
      "sources.scan_cpu_s" -> scan.map(_.cpuNs).sum / 1e9,
      "core.keyby_shuffle_mb" -> msStages.map(_.shuffleWriteBytes).sum / MB,
      "core.mapstate_job_s" -> ms.map(_.wallS).sum,
      "core.mapstate_sort_ms" -> metricSum(msExecs, sortNode, "sortTime").toDouble,
      "core.mapstate_spill_mb" -> msStages.map(_.spillBytes).sum / MB,
      "core.mapstate_peak_mb" -> metricSum(msExecs, sortNode, "peakMemory") / MB,
      "core.assign_ts_jobs" -> tsJobs.size.toDouble / math.max(win.size, 1),
      "core.assign_ts_job_s" -> tsJobs.map(j => (j.endUs - j.startUs) / 1e6).sum,
      "core.assign_ts_shuffle_mb" ->
        allStages.filter(s => tsJobIds(s.jobId)).map(_.shuffleWriteBytes).sum / MB,
      "core.window_job_s" -> win.map(_.wallS).sum,
      "core.plan_build_ms" -> Tracer.spansNamed("core.plan_build").map(s => s.endUs - s.startUs).sum / 1000.0)
  }
}
