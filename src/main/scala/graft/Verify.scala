package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg (local iteration only — the driver passes two):
    // comma-separated query names to dump instead of the full registry.
    val keep: String => Boolean =
      args.lift(2).map(a => a.split(',').toSet: String => Boolean).getOrElse(_ => true)
    val spark = Session.local(Session.envCores)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // Array/Map top-level columns crash the driver's pandas
        // canonicalization (round-9 q101) — fail the query LOUDLY here
        // so the row goes red with a readable cause instead of a
        // harness traceback. SchemaLintSpec blocks these pre-driver.
        val lint = SchemaLint.violations(df.schema)
        if (lint.nonEmpty)
          sys.error(s"SCHEMA LINT: non-scalar output columns ${lint.mkString("; ")}")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Rewrite bare table references to absolute parquet paths so each
    // oracle statement is self-contained in DuckDB regardless of which
    // views the harness pre-registers (documents/embeddings are not in
    // TESTDATA.md's table list). DuckDB reads '<path>.parquet' in FROM
    // position directly and auto-aliases the scan by file basename, so
    // both bare references and explicitly aliased ones keep working.
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val pattern = ("(?i)\\b(FROM|JOIN)\\s+(" + tables.mkString("|") + ")\\b").r
    def inline(sql: String): String =
      pattern.replaceAllIn(sql, m =>
        s"${m.group(1)} '$sfDir/${m.group(2).toLowerCase}.parquet'")
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(inline(v))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
