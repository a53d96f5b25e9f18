package graft.bench

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, lit, raise_error}

import graft.SparkEntry
import graft.queries.Q

/** Twelve registered queries at sf0.01, in an order drawn from the seed.
  *
  * The list is fixed: a seeded sample of the registry changes the work a
  * run does (between seeds, the summed executor CPU of a 16-query sample
  * moved by ~17% and its shuffle bytes by ~60-80%), which no regression
  * bound could absorb. It was drawn once: the 266 registered queries
  * under the 95th cost percentile (sf0.01, 4 cores), sorted by wall time
  * and cut into 20 equal strata, one query from each, preferring packs
  * not yet covered and the operator families (TopK, prefix sum) the layer
  * metrics attribute; then cut to 12 for the run budget.
  *
  * An untimed pass warms the JIT and the codegen cache (a cold single
  * pass moved 10-20% between runs) and writes each result as parquet;
  * the repository's DuckDB oracle gate (`scripts/check_oracle.py`, through
  * `oracle.py`) then checks those files, still untimed. Then `TimedPasses`
  * passes run each query into the noop sink under its own job group, and
  * a query's sample is its fastest pass. A query that throws in any pass,
  * is no longer registered, or whose output DuckDB rejects counts as
  * failed and is not a sample.
  */
object Registry extends Workload {
  val Sf = "0.01"

  /** With two passes the summed CPU time of the fastest passes spread by
    * 0.19 of its median across ten seeds (4 cores); with three, by 0.11.
    */
  val TimedPasses = 3

  val Sample: Seq[String] = Seq(
    "q13_grouping_sets", "q72_topk_native", "q131_dsir_resample", "q143_journey_paths",
    "q123_semantic_contamination", "q44_ntile", "q109_vocab_encode", "q106_bm25",
    "q132_index_health", "q110_loader_order", "q121_segment_dedup", "q205_bfs_hops")

  /** The sample in run order; a name no longer registered throws when run. */
  def sample(seed: Long): Seq[Q] = {
    val registered = SparkEntry.packs.map(q => q.name -> q).toMap
    new scala.util.Random(seed).shuffle(Sample).map { n =>
      registered.getOrElse(n, Q(n, (_, _) => sys.error(s"$n is not registered"), None))
    }
  }

  /** For the benchmark's own test: one query that throws and one whose
    * result disagrees with its oracle statement.
    */
  val injected: Seq[Q] = Seq(
    Q("q000_injected_throw", (s, d) =>
      graft.Tables.nation(s, d).select(raise_error(lit("injected failure")).as("x")), None),
    Q("q000_injected_wrong", (s, d) =>
      graft.Tables.nation(s, d).select((col("n_nationkey") + 1).as("n_nationkey")),
      Some("SELECT n_nationkey FROM nation ORDER BY n_nationkey")))

  def warmup(ctx: Ctx): Unit = {
    ctx.spark.read.parquet(s"${ctx.tables(Sf)}/nation.parquet").count()
    SparkEntry.queries("q26_tumbling_window")(ctx.spark, ctx.tables(Sf))
      .write.format("noop").mode("overwrite").save()
  }

  def run(ctx: Ctx): Outcome = {
    val qs = sample(ctx.seed) ++ (if (ctx.injectFailure) injected else Nil)
    val outDir = ctx.workDir.resolve("registry")
    qs.foreach { q =>
      try q.fn(ctx.spark, ctx.tables(Sf)).write.mode("overwrite").parquet(outDir.resolve(q.name).toString)
      catch { case _: Throwable => () } // the timed passes report it
    }
    val rejected = oracleCheck(ctx, outDir, qs)
    val passes = (1 to TimedPasses).map { _ =>
      qs.map { q =>
        Ops.timed(ctx, s"q:${q.name}", "query") {
          val df = Tracer.span(s"queries.${q.name}")(q.fn(ctx.spark, ctx.tables(Sf)))
          // the query's own analysis ran when it was built, outside any listener
          ctx.plans.foreach(_.execs.add(ExecRec(
            PlanRecorder.phasesOf(df.queryExecution).filter(_._1 == "analysis"), Set.empty, 0, Nil)))
          Tracer.span("sink.noop")(df.write.format("noop").mode("overwrite").save())
        }
      }
    }
    ctx.rec.drain()
    // per query: failed if any pass failed or DuckDB rejected its output,
    // else its fastest pass
    val ops = qs.zip(passes.transpose).map { case (q, runs) =>
      val op = runs.find(!_.ok).getOrElse(runs.minBy(_.wallS))
      if (rejected.contains(q.name)) op.copy(ok = false) else op
    }
    val samples = qs.zip(ops).map { case (q, op) =>
      val st = ctx.rec.stagesOf(_ == op.group)
      q.name -> Json.obj(Seq(
        "ok" -> op.ok.toString,
        "wall_s" -> Json.num(op.wallS),
        "cpu_s" -> Json.num(st.map(_.cpuNs).sum / 1e9),
        "shuffle_mb" -> Json.num(st.map(_.shuffleWriteBytes).sum / 1048576.0)))
    }
    Files.writeString(ctx.workDir.resolve("registry_samples.json"), Json.obj(samples) + "\n")
    val good = ops.filter(_.ok)
    val walls = good.map(_.wallS)
    val rows = ctx.rec.stagesOf(good.map(_.group).toSet).map(_.inputRows).sum
    val e2e = Map(
      "wall_s" -> walls.sum,
      "rows_per_s" -> rows / math.max(walls.sum, 1e-9),
      "query_wall_p50_s" -> Stats.quantile(walls, 0.5),
      "query_wall_p75_s" -> Stats.quantile(walls, 0.75),
      "event_latency_p50_ms" -> Stats.quantile(walls, 0.5) * 1000,
      "event_latency_p90_ms" -> Stats.quantile(walls, 0.9) * 1000)
    val notes = qs.zip(passes.transpose).collect { case (q, runs) if runs.exists(!_.ok) => s"registry: ${q.name} threw" } ++
      rejected.toSeq.sorted.map { case (q, why) => s"registry: $q: $why" }
    Outcome(ops.size, ops.count(!_.ok), rejected.isEmpty, e2e, Map.empty, ops, notes)
  }

  /** Compares each query's parquet result in `outDir` with its oracle
    * statement run by DuckDB (`oracle.py`, given as the system property
    * `perfbench.oracle`, run by `perfbench.python`). Returns the rejected
    * queries with the reason; throws when the check itself cannot run.
    */
  private def oracleCheck(ctx: Ctx, outDir: java.nio.file.Path, qs: Seq[Q]): Map[String, String] = {
    val sqls = qs.flatMap(q => q.oracle.map(sql => q.name -> Json.str(sql)))
    Files.createDirectories(outDir)
    Files.writeString(outDir.resolve("oracle_sql.json"), Json.obj(sqls) + "\n")
    val t0 = System.nanoTime()
    val p = new ProcessBuilder(sys.props("perfbench.python"), sys.props("perfbench.oracle"),
      ctx.tables(Sf), outDir.toString).redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val out = new String(p.getInputStream.readAllBytes())
    if (p.waitFor() != 0) sys.error(s"the DuckDB check exited with code ${p.exitValue}")
    val bad = out.linesIterator.filter(_.nonEmpty).map { l =>
      val Array(q, why) = l.split("\t", 2)
      q -> why
    }.toMap
    System.err.println(f"[perfbench] registry: ${sqls.size - bad.size}/${sqls.size} outputs equal DuckDB's " +
      f"(${(System.nanoTime() - t0) / 1e9}%.1f s)")
    bad
  }
}
