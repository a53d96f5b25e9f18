package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

class GraftExtensionsSpec extends SparkSpec {

  test("register adds only absent functions: injected entries stay, a bare session gets all") {
    val ids = graft.functions.GraftFunctions.builders.map { case (n, _) => FunctionIdentifier(n) }
    // the shared session is built with the extension, and so is its sibling
    val extended = spark.newSession()
    val reg = extended.sessionState.functionRegistry
    val injected = ids.map(id => reg.lookupFunction(id).get)
    graft.functions.GraftFunctions.register(extended)
    ids.zip(injected).foreach { case (id, info) =>
      assert(reg.lookupFunction(id).exists(_ eq info), s"$id was replaced")
    }
    // a session without the extension's functions
    val bare = spark.newSession()
    val bareReg = bare.sessionState.functionRegistry
    ids.foreach(bareReg.dropFunction)
    assert(!ids.exists(bareReg.functionExists))
    graft.functions.GraftFunctions.register(bare)
    assert(ids.forall(bareReg.functionExists))
    assert(bare.sql("SELECT hash60('graft')").collect().head.getLong(0) > 0)
  }

  test("extensions inject graft functions into a fresh session") {
    // reuse the shared SparkContext; build a sibling session with the
    // extension applied via withExtensions (same mechanism as the
    // spark.sql.extensions config)
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // getOrCreate reuses the live SparkContext but builds a new
      // session with the extension applied
      val extended = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      val v = extended.sql(
        "SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
          "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)))")
        .collect().head.getDouble(0)
      assert(v == 1.0)
      val k = extended.sql("SELECT size(minhash_sig(array(CAST(5 AS BIGINT))))")
        .collect().head.getInt(0)
      assert(k == graft.queries.Dedup.NumHashes)
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  test("a dedup query runs end-to-end from SQL text with the codegen exprs in-plan") {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val extended = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      // hash60 from SQL text equals the Column-builder form every
      // hash-keyed operator uses
      import org.apache.spark.sql.functions.lit
      val fromSql = extended.sql("SELECT hash60('graft')").collect().head.getLong(0)
      val fromCol = extended.range(1)
        .select(graft.functions.TextFns.hash60(lit("graft")))
        .collect().head.getLong(0)
      assert(fromSql == fromCol && fromSql > 0)
      // SimHash near-dup bucketing — the q36 pipeline — written as pure
      // SQL text: tokenize, bigram-hash, simhash, self-join on the code.
      // No DataFrame API, no graft import required of the user. Input
      // comes off range() (a literal VALUES table would let Catalyst
      // constant-fold the whole pipeline away — correct, but then the
      // plan-visibility assertion below would have nothing to see).
      val df = extended.sql(
        """WITH docs AS (
          |  SELECT id AS doc_id,
          |    CASE WHEN id < 2 THEN 'the quick brown fox jumps over the lazy dog'
          |         ELSE 'a completely different document about spark plans'
          |    END AS text
          |  FROM range(3)),
          |sigs AS (
          |  SELECT doc_id, simhash60(ngram_hash60(
          |    regexp_extract_all(lower(text), '[a-z0-9]+', 0), 2, 1048576)) AS sh
          |  FROM docs)
          |SELECT a.doc_id AS a, b.doc_id AS b
          |FROM sigs a JOIN sigs b ON a.sh = b.sh AND a.doc_id < b.doc_id""".stripMargin)
      // the native expressions are IN the executed plan (not rewritten
      // away into something interpreted)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("simhash60") && plan.contains("ngram_hash60"), plan)
      assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 1L)))
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }
}
