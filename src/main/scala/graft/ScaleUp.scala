package graft

import org.apache.spark.sql.functions._

/** Dev tool (not part of the driver contract): derive a 10x scale probe
  * dataset ("sf1") from the read-only sf0.1 tables, for the heavy-hitter
  * cliff sweep recorded in BASELINE.md. Usage:
  *
  *   runMain graft.ScaleUp /root/testdata/sf0.1 /tmp/sf1
  *
  * Derivation rules — chosen so each heavy query's work grows ~10x, not
  * adversarially:
  *
  * - `lineitem`: 10 key-disjoint replicas (l_orderkey / l_partkey /
  *   l_suppkey shifted per replica). The part–supplier graph becomes 10
  *   disjoint copies of the sf0.1 graph — 10x edges and nodes with the
  *   same degree shape, the clean volume probe for q137/q247/q255; the
  *   value columns (price/qty/flags) keep their distributions for q221.
  * - `documents`: 10 replicas with shifted doc_ids where replica k maps
  *   every token through a seeded permutation of the corpus vocabulary.
  *   Within a replica the near-dup/edit-distance structure is EXACTLY
  *   isomorphic to sf0.1 (token identity is all the shingle/gram/prefix
  *   operators see); across replicas a 3-token shingle survives only if
  *   all three tokens are permutation fixed points (~(1/|V|)^3), so the
  *   pair surface for q33/q130/q189/q200 grows ~10x, not 100x as naive
  *   text-identical replication would (every dup cluster x10 => pairs
  *   x100 — a skew stress, not a scale probe). n_chars is recomputed.
  *
  * The output dir is throwaway (NOT committed; regenerate at will).
  */
object ScaleUp {
  val Replicas = 10
  val DocIdShift = 10000000L
  val OrderShift = 1000000L
  val PartShift = 100000L
  val SuppShift = 10000L

  def main(args: Array[String]): Unit = {
    val (in, out) = (args(0), args(1))
    val spark = Session.local(Session.envCores)

    val li = spark.read.parquet(s"$in/lineitem.parquet")
    val liOut = li
      .crossJoin(spark.range(Replicas).select(col("id").as("__k")))
      .withColumn("l_orderkey", col("l_orderkey") + col("__k") * OrderShift)
      .withColumn("l_partkey", col("l_partkey") + col("__k") * PartShift)
      .withColumn("l_suppkey", col("l_suppkey") + col("__k") * SuppShift)
      .drop("__k")
    liOut.repartition(32).write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    val docs = spark.read.parquet(s"$in/documents.parquet")
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).distinct()
      .orderBy(col("w")).collect().map(_.getString(0))
    // per-replica seeded Fisher-Yates over the (tiny) vocabulary;
    // replica 0 is the identity so sf0.1 is a literal subset
    val perms: Array[Map[String, String]] = (0 until Replicas).map { k =>
      if (k == 0) vocab.map(w => w -> w).toMap
      else {
        val arr = vocab.clone()
        val rnd = new scala.util.Random(0xbeefL * 31 + k)
        var i = arr.length - 1
        while (i > 0) {
          val j = rnd.nextInt(i + 1)
          val t = arr(i); arr(i) = arr(j); arr(j) = t
          i -= 1
        }
        vocab.zip(arr).toMap
      }
    }.toArray
    val bperms = spark.sparkContext.broadcast(perms)
    val mapText = udf { (text: String, k: Int) =>
      val m = bperms.value(k)
      text.split(" ", -1).map(w => m.getOrElse(w, w)).mkString(" ")
    }
    val docsOut = docs
      .crossJoin(spark.range(Replicas).select(col("id").cast("int").as("__k")))
      .withColumn("doc_id", col("doc_id") + col("__k").cast("long") * DocIdShift)
      .withColumn("text", mapText(col("text"), col("__k")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("__k")
    docsOut.repartition(16).write.mode("overwrite").parquet(s"$out/documents.parquet")

    // the remaining tables pass through unchanged — raw byte copies
    // (reading+rewriting events would fight the ns-timestamp legacy
    // handling in Tables.events for no benefit)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "events", "embeddings").foreach { t =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$in/$t.parquet"),
        java.nio.file.Paths.get(s"$out/$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    println(s"[scaleup] wrote $out: lineitem=${liOut.count()} docs=${docsOut.count()}")
    spark.stop()
  }
}
