package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration: Verify, Explain, ScaleUp, Prof and the
  * tests all start their session here, so the configuration the oracle
  * proves is the one that is measured.
  */
object Session {
  def conf(cores: Int): Seq[(String, String)] = Seq(
    // one shuffle partition per local core, not the 200 default (at
    // cluster scale this knob is sized to executor memory instead)
    "spark.sql.shuffle.partitions" -> cores.toString,
    // static conf: the default 100-entry codegen cache thrashes on a
    // 267-query session (q255's 64-column classes re-Janino+re-JIT
    // every run: 3.4 s warm vs 12 s evicted - see BASELINE.md r14)
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.sql.adaptive.enabled" -> "true",
    // 4 MiB splits at any core count: Spark splits a scan at
    // min(this, max(4 MiB open cost, bytes per core)), so the 128m
    // default gives the single-file sf0.1 lineitem fewer, larger tasks
    // below 4 cores; at cluster scale the many-files layout splits it
    "spark.sql.files.maxPartitionBytes" -> "4m",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.ui.enabled" -> "false")

  /** `SPARK_GRAFT_CPUS`, else every core of the machine. */
  def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cores: Int): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]")
    conf(cores).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
