package graft

import org.apache.spark.sql.functions.{col, lit, raise_error}

class ProfSpec extends SparkSpec {

  test("a query that throws is listed as failed, never timed, and fails the run") {
    val metrics = new QueryMetrics
    spark.sparkContext.addSparkListener(metrics)
    try {
      val queries: Seq[(String, Prof.QueryFn)] = Seq(
        // fails in its tasks, after the job has started
        "prof_bad" -> ((s, _) => s.range(10).select(raise_error(lit("injected failure")))),
        "prof_good" -> ((s, _) => s.range(1000).groupBy((col("id") % 7).as("k")).count()))
      val t = Prof.time(spark, "unused", queries, reps = 2)
      assert(t.samples.keySet == Set("prof_good"))
      assert(t.samples("prof_good").size == 2)
      assert(t.failed.keySet == Set("prof_bad"))
      assert(t.failed("prof_bad").contains("injected failure"))
      assert(t.exitCode != 0)

      metrics.drain()
      val rows = Prof.rows(t, metrics)
      assert(rows.map(_.name) == Seq("prof_good"))
      // the good query's shuffle is attributed to its own job group
      assert(rows.head.shuffleMb > 0)
      val json = Prof.artifact("unused", rows, t.failed.keys)
      assert(json.contains("\"failed\":[\"prof_bad\"]"), json)
      assert(json.contains("\"n\":1,"), json)
      assert(!json.replace("\"failed\":[\"prof_bad\"]", "").contains("prof_bad"), json)
    } finally spark.sparkContext.removeSparkListener(metrics)
  }

  test("a clean run exits zero") {
    val t = Prof.time(spark, "unused", Seq("prof_ok" -> ((s, _) => s.range(10).toDF())), reps = 1)
    assert(t.failed.isEmpty && t.samples("prof_ok").size == 1 && t.exitCode == 0)
  }
}
