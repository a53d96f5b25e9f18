package graft

/** Dev tool: print formatted physical plans for the named queries (or a
  * default set) so pushdown/pruning/broadcast/codegen can be inspected.
  * Usage: runMain graft.Explain [sfDir] [q1,q2,...|--audit]
  *
  * `--audit` instead emits one summary row per registered query —
  * exchange/broadcast/nested-loop/sort/codegen counts — the compact
  * form of the per-round plan audit recorded in BASELINE.md.
  *
  * `--fingerprint <outFile>` writes `name TAB md5(normalized executed
  * plan)` for every registered query (session-varying tokens —
  * expression ids, plan ids, object addresses — stripped, so the
  * fingerprint is stable across sessions and registry insertions).
  * `scripts/check_plan_drift.py` diffs two fingerprint files and emits
  * the changed-query list that needs an sf1 oracle re-verify — making
  * "registry-wide sf1 holds by composition" a checked invariant.
  */
object Explain {

  /** Strip tokens that vary per session without a semantic plan change:
    * expression ids (#123), plan/subquery ids, JVM object addresses,
    * and checkpointed-RDD numbering.
    */
  private[graft] def normalizePlan(p: String): String =
    p.replaceAll("#\\d+", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("\\[id=[^\\]]*\\]", "[id=]")
      .replaceAll("\\$\\$?\\$?Lambda\\$?\\d*/0x[0-9a-f]+", "\\$\\$Lambda")
      .replaceAll("@[0-9a-f]{4,}", "@")
      .replaceAll("(ExistingRDD|LogicalRDD|MapPartitionsRDD)\\s*\\[\\d+\\]", "$1[]")

  private[graft] def fingerprint(p: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(normalizePlan(p).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val positional = args.filterNot(_.startsWith("--"))
    val sfDir = positional.headOption.getOrElse("/root/testdata/sf0.01")
    val audit = args.contains("--audit")
    val fpOut = if (args.contains("--fingerprint")) positional.lift(1) else None
    if (args.contains("--fingerprint") && fpOut.isEmpty) {
      System.err.println(
        "usage: graft.Explain <sfDir> --fingerprint <outFile>  (missing output file)")
      sys.exit(2)
    }
    // --audit alone audits the whole registry; --audit plus a name list
    // audits the subset (the cross-SF plan-diff workflow)
    val names =
      if (fpOut.isDefined) SparkEntry.queries.keys.toSeq.sorted
      else positional.lift(1).map(_.split(",").toSeq)
        .getOrElse(if (audit) SparkEntry.queries.keys.toSeq.sorted
        else Seq("q01_pricing_summary", "q02_filter_project", "q03_top_revenue",
          "q05_star_join", "q06_filter_agg", "q26_tumbling_window", "q32_minhash_lsh"))
    // pinned to 4 cores: PLAN_FPS.tsv hashes 4-partition plans
    val spark = Session.local(4)
    if (fpOut.isDefined) {
      val out = new java.io.PrintWriter(fpOut.get, "UTF-8")
      names.foreach { n =>
        // the oracle SQL is part of the fingerprint: a changed oracle
        // needs its sf1 re-proof as much as a changed plan does
        val fp =
          try fingerprint(
            SparkEntry.queries(n)(spark, sfDir).queryExecution.executedPlan.toString
              + "\n--oracle--\n" + SparkEntry.oracleSql.getOrElse(n, ""))
          catch { case e: Throwable => s"FAILED:${e.getClass.getSimpleName}" }
        out.println(s"$n\t$fp")
      }
      out.close()
      println(s"[fingerprint] wrote ${names.size} entries to ${fpOut.get}")
    } else if (audit) {
      def count(hay: String, needle: String): Int =
        needle.r.findAllIn(hay).size
      println("| query | exchanges | broadcasts | bnlj | cartesian | sorts |")
      println("|---|---|---|---|---|---|")
      names.foreach { n =>
        try {
          val p = SparkEntry.queries(n)(spark, sfDir).queryExecution.executedPlan.toString
          println(s"| $n | ${count(p, "Exchange (hash|range|Single)")} | " +
            s"${count(p, "BroadcastExchange")} | ${count(p, "BroadcastNestedLoopJoin")} | " +
            s"${count(p, "CartesianProduct")} | ${count(p, "\\+- Sort ")} |")
        } catch {
          case e: Throwable => println(s"| $n | plan failed: ${e.getClass.getSimpleName} |")
        }
      }
    } else names.foreach { n =>
      println(s"\n===================== $n =====================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
