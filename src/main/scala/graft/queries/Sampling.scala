package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.TextFns._

/** Corpus-composition sampling operators — the "data mixing" stage of a
  * training pipeline, where the kept fraction of each slice of the
  * corpus is a policy decision, not a fixed rate. Both queries are
  * deterministic (hash-driven, no RNG — the q43 principle: re-running
  * the pipeline reproduces the sample bit-for-bit) and shuffle nothing
  * data-sized: q78 runs through the bounded-heap TopK operator (partial
  * heaps map-side, keys-only exchange), q79 is one corpus scan plus a
  * broadcast of a per-language rate table that is at most
  * |languages| rows.
  */
object Sampling {

  // q78 — deterministic reservoir sample, m docs per language: rank
  // every document by a seeded content-independent hash draw and keep
  // the m smallest per stratum. Equivalent to a uniform random sample
  // without replacement per language, reproducible across runs and
  // cluster sizes. Ranking is the custom TopKPerKeyExec (no per-stratum
  // sort at 100 TB — partial bounded heaps combine map-side, only
  // survivors reach the exchange).
  private val ReservoirK = 5

  private def q78(s: SparkSession, d: String): DataFrame = {
    val drawn = documents(s, d).select(
      col("doc_id"), col("lang"),
      hash60(concat(lit("rsv"), col("doc_id").cast("string"))).as("draw"))
    graft.plans.TopK.perKey(drawn, Seq("lang"),
      Seq(col("draw").asc, col("doc_id").asc), ReservoirK)
      .select(col("doc_id"), col("lang"), col("draw"))
      .orderBy(col("lang"), col("draw"), col("doc_id"))
  }

  private val q78Sql =
    s"""SELECT doc_id, lang, draw FROM (
      |  SELECT doc_id, lang, draw,
      |    row_number() OVER (PARTITION BY lang ORDER BY draw, doc_id) AS rk
      |  FROM (SELECT doc_id, lang,
      |    ${hash60Sql("'rsv' || CAST(doc_id AS VARCHAR)")} AS draw
      |    FROM documents) t) t2
      |WHERE rk <= $ReservoirK
      |ORDER BY lang, draw, doc_id""".stripMargin

  // q79 — temperature-scaled mixture sampling: per-language keep rate
  // proportional to sqrt(N_lang) (temperature T=2 rebalancing — small
  // languages are up-weighted relative to their share, the standard
  // multilingual-mixing move), largest language kept in full. sqrt is
  // IEEE-correctly-rounded in both engines, so the integer thresholds
  // — floor(10000·sqrt(N_l)/sqrt(N_max)) — and therefore the kept set
  // are bit-reproducible. Per-doc membership is a hash draw against the
  // language's threshold: one corpus scan, one tiny two-level
  // aggregation, one broadcast join; nothing data-sized shuffles.
  private def q79(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val maxN = counts.agg(max(col("n_lang")).as("n_max"))
    val rates = counts.crossJoin(broadcast(maxN))
      .withColumn("threshold",
        floor(lit(10000) * sqrt(col("n_lang").cast("double")) /
          sqrt(col("n_max").cast("double"))).cast("long"))
      .select(col("lang"), col("n_lang"), col("threshold"))
    docs
      .withColumn("u", hash60(concat(lit("mix"), col("doc_id").cast("string"))) % 10000)
      .join(broadcast(rates), Seq("lang"))
      .filter(col("u") < col("threshold"))
      .select(col("doc_id"), col("lang"), col("n_lang"), col("threshold"), col("u"))
      .orderBy(col("doc_id"))
  }

  private val q79Sql =
    s"""WITH counts AS (
      |  SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
      |mx AS (SELECT max(n_lang) AS n_max FROM counts),
      |rates AS (
      |  SELECT lang, n_lang,
      |    CAST(floor(10000 * sqrt(CAST(n_lang AS DOUBLE)) /
      |      sqrt(CAST(n_max AS DOUBLE))) AS BIGINT) AS threshold
      |  FROM counts, mx)
      |SELECT doc_id, d.lang AS lang, n_lang, threshold,
      |  ${hash60Sql("'mix' || CAST(doc_id AS VARCHAR)")} % 10000 AS u
      |FROM documents d JOIN rates USING (lang)
      |WHERE ${hash60Sql("'mix' || CAST(doc_id AS VARCHAR)")} % 10000 < threshold
      |ORDER BY doc_id""".stripMargin

  // q80 — sequence packing (concat-then-chunk): each shard's document
  // stream is conceptually concatenated in doc_id order and chopped
  // into fixed token-budget chunks; every document gets the chunk index
  // and intra-chunk offset where it starts. This is the packing stage
  // that turns a filtered corpus into fixed-length training sequences.
  // The shard is SEMANTIC (it names which packed stream a document
  // belongs to — the published output carries it), but the running sum
  // is NOT computed with a per-shard sort window: 16 shards would mean
  // 16 single-task running sums at 100 TB. It goes through
  // ops.PrefixSum's range-exchange + carry, so each shard's sum is
  // split across as many tasks as the cluster has partitions and the
  // carry frame stays cluster-sized. doc_id is a total order within a
  // shard, so the result is deterministic and value-identical to a
  // sort window — shard count and physical parallelism are fully
  // decoupled. Integer `div`/`%` throughout — exact at any
  // cumulative-sum magnitude, where double division would round past
  // 2^53 tokens.
  private[queries] val PackBudget = 2048
  private val PackShards = 16

  private def q80(s: SparkSession, d: String): DataFrame =
    graft.ops.PrefixSum.prefixSum(
        documents(s, d)
          .select(col("doc_id"),
            (hash60(concat(lit("pk"), col("doc_id").cast("string"))) % PackShards).as("shard"),
            tokenCount(col("text")).as("n_tokens")),
        Seq("shard"), Seq(col("doc_id")), col("n_tokens"))
      .withColumnRenamed("cum", "cum_tokens")
      .withColumn("bin", expr(s"(cum_tokens - n_tokens) div $PackBudget"))
      .withColumn("bin_offset", expr(s"(cum_tokens - n_tokens) % $PackBudget"))
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("cum_tokens"),
        col("bin"), col("bin_offset"))
      .orderBy(col("doc_id"))

  private val q80Sql =
    s"""SELECT doc_id, shard, n_tokens, cum_tokens,
      |  (cum_tokens - n_tokens) // $PackBudget AS bin,
      |  (cum_tokens - n_tokens) % $PackBudget AS bin_offset
      |FROM (
      |  SELECT doc_id, shard, n_tokens,
      |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
      |      AS BIGINT) AS cum_tokens
      |  FROM (
      |    SELECT doc_id,
      |      ${hash60Sql("'pk' || CAST(doc_id AS VARCHAR)")} % $PackShards AS shard,
      |      len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens
      |    FROM documents) t) t2
      |ORDER BY doc_id""".stripMargin

  // q89 — deterministic train/val/test split assignment: each document
  // lands in a split by a content-independent seeded hash bucket
  // (80/10/10), so the split is reproducible bit-for-bit across runs,
  // engines, and cluster sizes, and adding documents never moves
  // existing ones between splits (the property per-stratum exact
  // quotas cannot give). One scan, shuffle of |langs × splits| rows.
  private[queries] val SplitSeed = "sp8"

  private def q89(s: SparkSession, d: String): DataFrame = {
    val bucket = pmod(hash60(concat(lit(SplitSeed), col("doc_id").cast("string"))), lit(100L))
    documents(s, d)
      .select(col("lang"),
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").as("split"),
        tokenCount(col("text")).as("n_toks"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .orderBy(col("lang"), col("split"))
  }

  private val q89Sql =
    s"""SELECT lang,
      |  CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
      |    ELSE 'test' END AS split,
      |  count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens
      |FROM (
      |  SELECT lang,
      |    ${hash60Sql(s"'$SplitSeed' || CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
      |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_toks
      |  FROM documents) t
      |GROUP BY 1, 2
      |ORDER BY lang, split""".stripMargin

  // q92 — deterministic negative-pair sampling for contrastive
  // training data: each document draws NegK pseudo-random partners by
  // seeded hash over the id space (reproducible, no RNG state), keeps
  // only real non-self partners via an inner join, and reports whether
  // the pair crosses languages. Scale shape: one explode (k rows per
  // doc) + one shuffle join on partner_id — O(k·N) rows total, no
  // broadcast of anything data-sized (only the 1-row max-id frame).
  private val NegK = 4

  private def q92(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("lang"))
    val n = docs.agg(max(col("doc_id")).as("max_id"))
    val cand = docs
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("lang").as("lang_a"),
        explode(sequence(lit(0), lit(NegK - 1))).as("j"), col("max_id"))
      .withColumn("partner_id",
        pmod(hash60(concat(lit("neg"), col("doc_id").cast("string"),
          lit("_"), col("j").cast("string"))), col("max_id") + 1))
      .filter(col("partner_id") =!= col("doc_id"))
    cand
      .join(docs.select(col("doc_id").as("partner_id"), col("lang").as("lang_b")),
        Seq("partner_id"))
      .select(col("doc_id"), col("j"), col("partner_id"),
        (col("lang_a") === col("lang_b")).cast("int").as("same_lang"))
      .orderBy(col("doc_id"), col("j"))
  }

  private val q92Sql =
    s"""WITH n AS (SELECT max(doc_id) AS max_id FROM documents),
      |cand AS (
      |  SELECT d.doc_id, d.lang AS lang_a, jj.j AS j,
      |    ${hash60Sql("'neg' || CAST(doc_id AS VARCHAR) || '_' || CAST(jj.j AS VARCHAR)")}
      |      % (max_id + 1) AS partner_id
      |  FROM documents d, n, (SELECT unnest(range($NegK)) AS j) jj
      |  WHERE ${hash60Sql("'neg' || CAST(doc_id AS VARCHAR) || '_' || CAST(jj.j AS VARCHAR)")}
      |      % (max_id + 1) <> d.doc_id)
      |SELECT c.doc_id, CAST(c.j AS INT) AS j, c.partner_id,
      |  CAST(c.lang_a = p.lang AS INT) AS same_lang
      |FROM cand c JOIN documents p ON c.partner_id = p.doc_id
      |ORDER BY c.doc_id, j""".stripMargin

  /** Per-source token budget for q98 (tokens, not docs — the unit a
    * training mix is actually specified in). Sized so the cut BINDS on
    * the synthetic corpus (sources carry ~1.5k tokens at test SFs —
    * a non-binding budget would leave the greedy filter untested).
    */
  val TokenBudget = 512L

  // q98 — quality-greedy token-budget allocator: each source
  // contributes its best documents (quality desc, doc_id tiebreak)
  // until its token budget fills — the "data mixing by token count"
  // stage of a training pipeline, where budgets implement the mixture
  // weights. A document is kept iff it STARTS within budget (the
  // standard greedy cut: the first overflowing doc is kept, nothing
  // after it).
  //
  // Scale shape: the cumulative sum is NOT a per-source sort window
  // (that serializes each source onto one task). Instead it runs
  // through `ops.PrefixSum`: the corpus range-partitions on (source,
  // quality desc, doc_id), each partition computes its local running
  // sum, and a ≤ partitions × sources entry carry frame (cluster-sized,
  // not data-sized) broadcasts the per-partition offsets back.
  // Billion-doc sources spread over every executor.
  /** (doc_id, source, n_toks, quality) with the q52-core quality score
    * — the scored frame both budget consumers (q98, q100) cut from.
    */
  private[queries] def scoredDocs(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("toks"))).cast("long"))
      .withColumn("quality",
        (col("n_distinct").cast("double") / greatest(col("n_toks"), lit(1L))) *
          when(col("n_toks") >= 20 && col("n_toks") <= 1000, 1.0).otherwise(0.0))
      .select(col("doc_id"), col("source"), col("n_toks"), col("quality"))

  /** The distributed-prefix budget cut over any
    * (doc_id, source, n_toks, quality) frame: greedy by
    * (quality desc, doc_id) per source until `budget` tokens. Shared by
    * q98 (whole corpus) and q100 (dedup survivors).
    */
  private[queries] def tokenBudgetOver(scored: DataFrame, budget: Long): DataFrame =
    // the generic carry pattern lives in ops.PrefixSum (single home for
    // the AQE-fragile one-__pid-assignment invariant its scaladoc
    // explains); this is its running token sum per source
    graft.ops.PrefixSum.prefixSum(scored, Seq("source"),
        Seq(col("quality").desc, col("doc_id")), col("n_toks"))
      .withColumnRenamed("cum", "cum_toks")
      .filter(col("cum_toks") - col("n_toks") < budget)
      .select(col("source"), col("doc_id"), col("n_toks"), col("cum_toks"))
      .orderBy(col("source"), col("doc_id"))

  private def q98(s: SparkSession, d: String): DataFrame =
    tokenBudgetOver(scoredDocs(s, d), TokenBudget)

  /** Distributed global rank: row_number within `part` by `order`,
    * WITHOUT a per-partition-value sort window (a single giant source
    * would serialize onto one task at 100 TB). Range-partition on
    * (part, order), rank locally per physical partition, and add back
    * a carry of preceding-partition counts — the same
    * cluster-sized-carry pattern as [[tokenBudgetOver]] / q44, with
    * counts instead of token sums. Appends a `rk` column (1-based,
    * long).
    */
  private[queries] def rankDistributed(
      df: DataFrame, part: Seq[String], order: Seq[org.apache.spark.sql.Column]): DataFrame =
    // a rank is the running sum of 1 in the same total order — the
    // generic carry machinery (and its one-__pid-assignment invariant)
    // lives in ops.PrefixSum
    graft.ops.PrefixSum.prefixSum(df, part, order, lit(1L))
      .withColumnRenamed("cum", "rk")

  /** [[rankDistributed]] plus the per-part row count as an extra
    * COLUMN `countName` on every ranked row — for the consumers that
    * need per-part cardinalities next to the rank (q103/q170/q188 and
    * friends). The pre-r18 API returned the counts as a second tiny
    * frame that every consumer broadcast-joined back; the fused
    * operator knows the per-part totals from its carry pass, so the
    * column form removes that join from every consumer plan.
    */
  private[queries] def rankDistributedWithCounts(
      df: DataFrame, part: Seq[String],
      order: Seq[org.apache.spark.sql.Column],
      countName: String): DataFrame =
    graft.ops.PrefixSum.prefixSumWithTotal(
      df, part, order, lit(1L), countName)
      .withColumnRenamed("cum", "rk")

  // q103 — per-source quality calibration: quality scores are only
  // comparable WITHIN a source (different boilerplate, different
  // length profiles — the well-known classifier-miscalibration
  // problem), so the keep decision is a per-source QUANTILE, not a
  // global threshold: keep each source's top 30% by quality. The rank
  // is integer arithmetic end to end (10·rk ≤ 3·n — no percent_rank
  // double near a boundary), computed by [[rankDistributed]] rather
  // than a per-source sort window.
  private def q103(s: SparkSession, d: String): DataFrame = {
    val scored = scoredDocs(s, d)
    // per-source counts ride on the ranked rows as a column (r18 fused
    // operator) — no broadcast join, and no second pass over the
    // tokenization subtree for one number
    val ranked = rankDistributedWithCounts(scored, Seq("source"),
      Seq(col("quality").desc, col("doc_id")), "n_src")
    ranked
      .filter(col("rk") * 10 <= col("n_src") * 3)
      .select(col("source"), col("doc_id"), col("rk"), col("n_src"))
      .orderBy(col("source"), col("rk"))
  }

  private val q103Sql =
    s"""WITH q AS (SELECT doc_id, source,
      |    CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) *
      |      (CASE WHEN len(toks) >= 20 AND len(toks) <= 1000 THEN 1.0 ELSE 0.0 END)
      |      AS quality
      |  FROM (SELECT doc_id, source,
      |      regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |    FROM documents) t),
      |r AS (SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rk,
      |    count(*) OVER (PARTITION BY source) AS n_src
      |  FROM q)
      |SELECT source, doc_id, rk, n_src
      |FROM r WHERE rk * 10 <= n_src * 3
      |ORDER BY source, rk""".stripMargin

  /** Training epochs materialized by q104. */
  private val Epochs = 2

  // q104 — deterministic epoch shuffle: every epoch is an independent
  // pseudo-random permutation of the corpus (seeded hash draw per
  // (epoch, doc)), and each document's global training position is its
  // rank in that order — reproducible bit-for-bit across runs, engines,
  // and cluster sizes, which is what makes a training run resumable
  // and auditable ("which examples were in step 12345's batch?").
  // The global order is [[rankDistributed]] — no single-partition
  // window; billion-doc epochs range-partition across every executor.
  private def q104(s: SparkSession, d: String): DataFrame = {
    val drawn = documents(s, d)
      .select(col("doc_id"),
        explode(sequence(lit(0), lit(Epochs - 1))).as("epoch"))
      .withColumn("draw", hash60(concat(lit("ep"), col("epoch").cast("string"),
        lit("_"), col("doc_id").cast("string"))))
    rankDistributed(drawn, Seq("epoch"), Seq(col("draw"), col("doc_id")))
      .select(col("epoch"), col("rk").as("pos"), col("doc_id"), col("draw"))
      .orderBy(col("epoch"), col("pos"))
  }

  private val q104Sql =
    s"""SELECT epoch, row_number() OVER (PARTITION BY epoch
      |    ORDER BY draw, doc_id) AS pos, doc_id, draw
      |FROM (
      |  SELECT doc_id, e.epoch AS epoch,
      |    ${hash60Sql("'ep' || CAST(e.epoch AS VARCHAR) || '_' || CAST(doc_id AS VARCHAR)")} AS draw
      |  FROM documents, (SELECT unnest(range($Epochs)) AS epoch) e) t
      |ORDER BY epoch, pos""".stripMargin

  /** Repetition cap for q105: at most 4 epochs of any source (past ~4
    * repeats the marginal value of repeated data decays — the
    * data-constrained-scaling rule of thumb).
    */
  private[queries] val RepCapBp = 40000L

  // q105 — deterministic repetition schedule (data-constrained
  // scaling): small sources are repeated to rebalance the mix, with a
  // NON-INTEGER per-source factor — factor = min(4, T_max/T_src) over
  // per-source TOKEN totals, held in basis points so the arithmetic
  // stays integer end to end. Each
  // document is materialized floor(factor) times, plus one extra copy
  // iff a seeded per-doc hash draw lands under the fractional part —
  // so a source with factor 2.3 repeats every doc twice and a
  // deterministic, content-independent 30% of docs a third time.
  // Re-running reproduces the schedule bit-for-bit (no RNG state), and
  // per doc copies ∈ {floor(f), ceil(f)} — the bounded-staleness
  // contract an epoch-resumable loader needs.
  //
  // Scale shape: one corpus scan, a |sources|-row broadcast of the
  // factor table, and the explode is at most RepCap× the input — no
  // data-sized shuffle (output partitioning inherits the scan).
  /** The repetition-schedule frame behind q105 and q110:
    * (source, doc_id, factor_bp, copies, rep_idx), one row per
    * materialized copy.
    */
  private[queries] def repetitionCopies(s: SparkSession, d: String): DataFrame = {
    // Weight by TOKEN mass, not document count: tokens are the unit a
    // training mix is specified in, and token totals differentiate
    // sources even when a corpus is document-balanced.
    val docs = documents(s, d)
      .select(col("doc_id"), col("source"), tokenCount(col("text")).as("n_toks"))
    val counts = docs.groupBy(col("source")).agg(sum(col("n_toks")).as("t_src"))
    val maxN = counts.agg(max(col("t_src")).as("t_max"))
    val factors = counts.crossJoin(broadcast(maxN))
      .withColumn("factor_bp",
        least(lit(RepCapBp), expr("(10000 * t_max) div t_src")))
      .select(col("source"), col("factor_bp"))
    docs.select(col("doc_id"), col("source")).join(broadcast(factors), Seq("source"))
      .withColumn("u",
        hash60(concat(lit("rep"), col("doc_id").cast("string"))) % 10000)
      // factor_bp >= 10000 (n_max/n_src >= 1), so copies >= 1 and the
      // 0..copies-1 sequence below never runs backwards.
      .withColumn("copies",
        expr("factor_bp div 10000") +
          when(col("u") < col("factor_bp") % 10000, 1L).otherwise(0L))
      .select(col("source"), col("doc_id"), col("factor_bp"), col("copies"),
        explode(sequence(lit(0L), col("copies") - 1)).as("rep_idx"))
  }

  /** DuckDB CTE fragment mirroring [[repetitionCopies]]: defines
    * `rep(source, doc_id, factor_bp, copies, rep_idx)`.
    */
  private[queries] val repetitionCteSql =
    s"""counts AS (
      |  SELECT source,
      |    CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT)
      |      AS t_src
      |  FROM documents GROUP BY source),
      |mx AS (SELECT max(t_src) AS t_max FROM counts),
      |f AS (SELECT source,
      |    least($RepCapBp, (10000 * t_max) // t_src) AS factor_bp
      |  FROM counts, mx),
      |c AS (
      |  SELECT d.source AS source, doc_id, factor_bp,
      |    factor_bp // 10000 +
      |      (CASE WHEN ${hash60Sql("'rep' || CAST(doc_id AS VARCHAR)")} % 10000
      |            < factor_bp % 10000 THEN 1 ELSE 0 END) AS copies
      |  FROM documents d JOIN f USING (source)),
      |rep AS (
      |  SELECT source, doc_id, factor_bp, copies,
      |    unnest(range(copies)) AS rep_idx
      |  FROM c)""".stripMargin

  private def q105(s: SparkSession, d: String): DataFrame =
    repetitionCopies(s, d)
      .orderBy(col("source"), col("doc_id"), col("rep_idx"))

  private val q105Sql =
    s"""WITH $repetitionCteSql
      |SELECT source, doc_id, CAST(factor_bp AS BIGINT) AS factor_bp,
      |  CAST(copies AS BIGINT) AS copies, CAST(rep_idx AS BIGINT) AS rep_idx
      |FROM rep
      |ORDER BY source, doc_id, rep_idx""".stripMargin

  // q107 — deterministic proportional interleaver (stride scheduling):
  // the single global training order a weighted-mixture data loader
  // streams, without epoch-level shuffling. Each source's documents
  // are hash-shuffled within the source (seeded draw → per-source rank
  // k via [[rankDistributed]]), assigned virtual time k/n_src, and the
  // global order sorts by (vt, source, doc_id) — so every prefix of
  // the order carries each source in proportion to its size and all
  // sources finish together at vt = 1. The vt division is a single
  // IEEE-correctly-rounded op on exact integers, so the order (and the
  // emitted vt) is bit-reproducible in the oracle. Global positions
  // come from [[rankDistributed]] with no partition key — the carry
  // frame is ≤ #partitions rows, never a single-task global sort
  // window.
  private def q107(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("source"))
      .withColumn("draw",
        hash60(concat(lit("il"), col("doc_id").cast("string"))))
    val n = docs.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
    val ranked = rankDistributed(docs, Seq("source"), Seq(col("draw"), col("doc_id")))
      .withColumnRenamed("rk", "k")
      .join(broadcast(n), Seq("source"))
      .withColumn("vt", col("k").cast("double") / col("n_src"))
    rankDistributed(ranked, Seq.empty, Seq(col("vt"), col("source"), col("doc_id")))
      .select(col("rk").as("pos"), col("source"), col("doc_id"), col("k"), col("vt"))
      .orderBy(col("pos"))
  }

  private val q107Sql =
    s"""WITH d AS (SELECT doc_id, source,
      |    ${hash60Sql("'il' || CAST(doc_id AS VARCHAR)")} AS draw
      |  FROM documents),
      |n AS (SELECT source, count(*) AS n_src FROM d GROUP BY source),
      |r AS (SELECT doc_id, d.source AS source,
      |    row_number() OVER (PARTITION BY d.source ORDER BY draw, doc_id) AS k,
      |    n_src
      |  FROM d JOIN n USING (source)),
      |v AS (SELECT doc_id, source, k, CAST(k AS DOUBLE)/n_src AS vt FROM r)
      |SELECT row_number() OVER (ORDER BY vt, source, doc_id) AS pos,
      |  source, doc_id, CAST(k AS BIGINT) AS k, vt
      |FROM v ORDER BY pos""".stripMargin

  private val q98Sql =
    s"""WITH q AS (SELECT doc_id, source, len(toks) AS n_toks,
      |    CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) *
      |      (CASE WHEN len(toks) >= 20 AND len(toks) <= 1000 THEN 1.0 ELSE 0.0 END)
      |      AS quality
      |  FROM (SELECT doc_id, source,
      |      regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |    FROM documents) t),
      |w AS (SELECT doc_id, source, n_toks,
      |    sum(n_toks) OVER (PARTITION BY source ORDER BY quality DESC, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum_toks
      |  FROM q)
      |SELECT source, doc_id, CAST(n_toks AS BIGINT) AS n_toks,
      |  CAST(cum_toks AS BIGINT) AS cum_toks
      |FROM w
      |WHERE cum_toks - n_toks < $TokenBudget
      |ORDER BY source, doc_id""".stripMargin

  // q115 — DSIR-style importance weighting (Xie et al. 2023, "Data
  // Selection for Language Models via Importance Resampling"): score
  // every document by how much its hashed-bigram feature profile
  // resembles a TARGET distribution (here the lang='en' slice) relative
  // to the RAW corpus distribution. Features are bigram hashes folded
  // into DsirBuckets buckets (the paper's hashed n-gram trick — the
  // feature space is fixed-size no matter how large the corpus), and
  // the per-feature score is exact integer arithmetic,
  // (Scale·(t_f+1)) div (r_f+2) — an add-one-smoothed target/raw
  // likelihood ratio in fixed point, so both engines agree bit-for-bit
  // with no float logs anywhere.
  //
  // Scale design: the bucket-count table is AT MOST DsirBuckets rows
  // regardless of corpus size — it aggregates map-side (partials per
  // partition, a DsirBuckets-row shuffle) and then BROADCASTS into the
  // per-doc feature join, so corpus data shuffles exactly once, keyed
  // by doc_id for the final roll-up. This is the whole point of hashed
  // features: the "model" fits in a broadcast no matter the scale.
  private[queries] val DsirBuckets = 1024L
  private[queries] val DsirScale = 10000L
  private[queries] val DsirTargetLang = "en"

  /** Core over (doc_id, lang, text) — fixture-testable. `targetLang`
    * selects the target slice whose feature distribution defines the
    * importance numerator.
    */
  private[graft] def dsirWeightsOf(docsDf: DataFrame, targetLang: String): DataFrame = {
    graft.functions.GraftFunctions.register(docsDf.sparkSession)
    val base = docsDf
      .select(col("doc_id"), col("lang"),
        array_distinct(call_function(
          "ngram_hash60", tokens(col("text")), lit(2), lit(DsirBuckets))).as("fs"))
      .repartition(col("doc_id"))
    val feats = base.select(col("doc_id"), col("lang"), explode(col("fs")).as("f"))
    val counts = feats.groupBy(col("f")).agg(
      count(lit(1)).as("r_f"),
      sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("t_f"))
    feats.join(broadcast(counts), Seq("f"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"),
        sum(expr(s"($DsirScale * (t_f + 1)) DIV (r_f + 2)")).as("weight"))
      .orderBy(col("doc_id"))
  }

  private def q115(s: SparkSession, d: String): DataFrame =
    dsirWeightsOf(documents(s, d).select(col("doc_id"), col("lang"), col("text")),
      DsirTargetLang)

  /** The DSIR "model": one row holding a bucket -> fixed-point score
    * map fitted on a static corpus. At most DsirBuckets entries by
    * construction — always broadcastable, at any corpus size.
    */
  private def dsirModelOf(staticCorpus: DataFrame, targetLang: String): DataFrame = {
    graft.functions.GraftFunctions.register(staticCorpus.sparkSession)
    staticCorpus
      .select(col("lang"), explode(array_distinct(call_function(
        "ngram_hash60", tokens(col("text")), lit(2), lit(DsirBuckets)))).as("f"))
      .groupBy(col("f")).agg(
        count(lit(1)).as("r_f"),
        sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("t_f"))
      .select(col("f"), expr(s"($DsirScale * (t_f + 1)) DIV (r_f + 2)").as("sc"))
      .agg(map_from_arrays(collect_list(col("f")), collect_list(col("sc"))).as("m"))
  }

  /** Streaming form of q115 — the paper's actual deployment shape: fit
    * the target/raw bucket model ONCE on a static corpus, then stream
    * candidate documents through it. The model broadcasts as a 1-row
    * map (the q73 benchmark-array pattern) and the per-doc weight folds
    * over the feature array inside codegen — no explode, no streaming
    * aggregation, no state, so the query runs in append mode with the
    * same per-row cost as a stateless filter. Buckets unseen in the
    * static corpus score with the same add-one smoothing at zero
    * counts: (Scale·1) div 2.
    */
  def dsirWeightsStream(stream: DataFrame, staticCorpus: DataFrame,
      targetLang: String): DataFrame = {
    val unseen = DsirScale / 2 // (Scale * (0+1)) DIV (0+2)
    stream
      .select(col("doc_id"), array_distinct(call_function(
        "ngram_hash60", tokens(col("text")), lit(2), lit(DsirBuckets))).as("fs"))
      .crossJoin(broadcast(dsirModelOf(staticCorpus, targetLang)))
      .select(col("doc_id"), size(col("fs")).cast("long").as("n_feats"),
        aggregate(col("fs"), lit(0L),
          (acc, x) => acc + coalesce(element_at(col("m"), x), lit(unseen))).as("weight"))
  }

  /** Seed for the q131 acceptance draw. */
  private val DsirDrawSeed = "graft-dsir-draw-1"

  // q131 — DSIR acceptance resampling: the SAMPLING step the q115
  // weights exist for (Xie et al. resample the raw corpus with
  // probability proportional to importance). Each document's mean
  // per-feature importance (weight div n_feats, a 0..DsirScale fixed-
  // point probability) is compared against a seeded uniform hash draw
  // on the same scale: accept iff draw < mean importance. Deterministic
  // across runs/engines/cluster sizes — a resample is reproducible from
  // (corpus, seed) alone, the property a training-data lineage audit
  // needs. Emits every document with its draw and verdict (the report
  // form; a production pass filters accept = 1). One extra projection
  // over the q115 plan — same scans, same broadcasts.
  private def q131(s: SparkSession, d: String): DataFrame =
    dsirWeightsOf(documents(s, d).select(col("doc_id"), col("lang"), col("text")),
      DsirTargetLang)
      .withColumn("w_mean", expr("weight div n_feats"))
      .withColumn("draw",
        pmod(hash60(concat(lit(DsirDrawSeed), col("doc_id").cast("string"))),
          lit(DsirScale)))
      .withColumn("accept", when(col("draw") < col("w_mean"), 1L).otherwise(0L))
      .orderBy(col("doc_id"))

  private val q131Sql = {
    val toks = "regexp_extract_all(lower(text), '[a-z0-9]+')"
    val draw = hash60Sql(s"'$DsirDrawSeed' || CAST(doc_id AS VARCHAR)")
    s"""WITH d AS (SELECT doc_id, lang, $toks AS t FROM documents),
      |f AS (
      |  SELECT doc_id, lang, unnest(list_distinct(list_transform(
      |    range(greatest(len(t) - 1, 0)),
      |    i -> ${hash60Sql("t[i+1] || ' ' || t[i+2]")} % $DsirBuckets))) AS f
      |  FROM d),
      |c AS (SELECT f, count(*) AS r_f,
      |    CAST(sum(CASE WHEN lang = '$DsirTargetLang' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS t_f
      |  FROM f GROUP BY f),
      |w AS (
      |  SELECT f.doc_id, count(*) AS n_feats,
      |    CAST(sum(($DsirScale * (c.t_f + 1)) // (c.r_f + 2)) AS BIGINT) AS weight
      |  FROM f JOIN c USING (f)
      |  GROUP BY f.doc_id)
      |SELECT doc_id, n_feats, weight, weight // n_feats AS w_mean,
      |  $draw % $DsirScale AS draw,
      |  CAST(CASE WHEN $draw % $DsirScale < weight // n_feats
      |    THEN 1 ELSE 0 END AS BIGINT) AS accept
      |FROM w
      |ORDER BY doc_id""".stripMargin
  }

  private val q115Sql = {
    val toks = "regexp_extract_all(lower(text), '[a-z0-9]+')"
    s"""WITH d AS (SELECT doc_id, lang, $toks AS t FROM documents),
      |f AS (
      |  SELECT doc_id, lang, unnest(list_distinct(list_transform(
      |    range(greatest(len(t) - 1, 0)),
      |    i -> ${hash60Sql("t[i+1] || ' ' || t[i+2]")} % $DsirBuckets))) AS f
      |  FROM d),
      |c AS (SELECT f, count(*) AS r_f,
      |    CAST(sum(CASE WHEN lang = '$DsirTargetLang' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS t_f
      |  FROM f GROUP BY f)
      |SELECT f.doc_id, count(*) AS n_feats,
      |  CAST(sum(($DsirScale * (c.t_f + 1)) // (c.r_f + 2)) AS BIGINT) AS weight
      |FROM f JOIN c USING (f)
      |GROUP BY f.doc_id
      |ORDER BY doc_id""".stripMargin
  }

  // q138 — priority sampling (Duffield–Lund–Thorup, JACM 2007): a
  // weight-sensitive sample of fixed size k whose Horvitz-Thompson
  // estimator ŵ_i = max(w_i, τ) is unbiased for ANY subset-sum query —
  // the principled way to keep a tiny sample of a 100 TB corpus that
  // still answers "how many tokens does slice X hold". Each document
  // draws u_i = (hash+1)/2^60 ∈ (0,1] (deterministic — the q43
  // principle) and gets priority q_i = w_i/u_i; the sample is the k
  // largest priorities and τ is the (k+1)-th. Weights are n_chars.
  //
  // Scale: priority assignment is one scan inside codegen; "k largest"
  // plans as TakeOrderedAndProject (bounded per-partition heaps — no
  // global sort, no data-sized shuffle), and the k+1 survivor frame
  // (localCheckpointed, 41 rows) feeds both τ and the sample without
  // recomputing the scan. Priorities are IEEE doubles: ×2^60 is exact
  // (w ≤ 2^43), int64→double casts and division are correctly rounded
  // in every engine, so sample AND estimator are bit-reproducible in
  // the DuckDB oracle.
  private val PriK = 40

  /** Core: priority sample of size k over (doc_id, n_chars) rows, with
    * the τ-threshold Horvitz-Thompson weight estimate per kept row.
    * Fixture-testable; requires more than k input rows.
    */
  private[graft] def prioritySampleOf(docs: DataFrame, k: Int): DataFrame = {
    val pri = docs.select(
      col("doc_id"),
      greatest(col("n_chars"), lit(1L)).as("w"),
      (greatest(col("n_chars"), lit(1L)).cast("double") * lit(1.152921504606846976e18) /
        (hash60(concat(lit("pri"), col("doc_id").cast("string"))) + lit(1L))
          .cast("double")).as("priority"))
    val top = pri.orderBy(col("priority").desc, col("doc_id")).limit(k + 1)
      .localCheckpoint()
    val tau = top.agg(min(col("priority")).as("tau")) // (k+1)-th largest
    top.orderBy(col("priority").desc, col("doc_id")).limit(k)
      .crossJoin(broadcast(tau))
      .select(col("doc_id"), col("w"), col("priority"),
        greatest(col("w").cast("double"), col("tau")).as("est_w"))
      .orderBy(col("priority").desc, col("doc_id"))
  }

  private def q138(s: SparkSession, d: String): DataFrame =
    prioritySampleOf(documents(s, d), PriK)

  private val q138Sql =
    s"""WITH p AS (
      |  SELECT doc_id, greatest(n_chars, 1) AS w,
      |    (CAST(greatest(n_chars, 1) AS DOUBLE) * 1152921504606846976.0) /
      |      CAST(${hash60Sql("'pri' || CAST(doc_id AS VARCHAR)")} + 1 AS DOUBLE)
      |      AS priority
      |  FROM documents),
      |r AS (SELECT doc_id, w, priority,
      |        row_number() OVER (ORDER BY priority DESC, doc_id) AS rk
      |      FROM p)
      |SELECT doc_id, w, priority,
      |  greatest(CAST(w AS DOUBLE),
      |    (SELECT priority FROM r WHERE rk = ${PriK + 1})) AS est_w
      |FROM r WHERE rk <= $PriK
      |ORDER BY priority DESC, doc_id""".stripMargin

  // q206 — effective sample size (ESS) of the DSIR importance weights:
  // the one-number diagnostic importance sampling lives and dies by.
  // With per-doc mean importance w (q131's resampling probability,
  // 0..DsirScale fixed point), ESS = (Σw)²/Σw² — if a few documents
  // carry most of the weight, ESS collapses and the resampled corpus
  // is effectively tiny no matter how many rows it has. Reported as
  // the effective count and as a 2^20 fixed-point share of N (1.0 =
  // uniform weights). Exact: sums and squares stage through
  // DECIMAL(38,0)/HUGEINT ((Σw)² is O(10^24) already at 10^8 docs).
  //
  // Scale shape: the q115 plan plus one 1-row reduction — nothing new
  // shuffles.
  private def q206(s: SparkSession, d: String): DataFrame =
    dsirWeightsOf(documents(s, d).select(col("doc_id"), col("lang"), col("text")),
      DsirTargetLang)
      .select(expr("weight div n_feats").as("w"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w").cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("sw"),
        sum(col("w").cast(org.apache.spark.sql.types.DecimalType(38, 0)) * col("w"))
          .as("sw2"))
      .select(col("n_docs"),
        col("sw").cast("long").as("sum_w"),
        col("sw2").cast("long").as("sum_w2"),
        expr("CAST(sw * sw DIV sw2 AS BIGINT)").as("ess"),
        expr("CAST(sw * sw * 1048576 DIV (sw2 * n_docs) AS BIGINT)")
          .as("ess_share_fp"))

  private val q206Sql = {
    val toks = "regexp_extract_all(lower(text), '[a-z0-9]+')"
    s"""WITH d AS (SELECT doc_id, lang, $toks AS t FROM documents),
      |f AS (
      |  SELECT doc_id, lang, unnest(list_distinct(list_transform(
      |    range(greatest(len(t) - 1, 0)),
      |    i -> ${hash60Sql("t[i+1] || ' ' || t[i+2]")} % $DsirBuckets))) AS f
      |  FROM d),
      |c AS (SELECT f, count(*) AS r_f,
      |    CAST(sum(CASE WHEN lang = '$DsirTargetLang' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS t_f
      |  FROM f GROUP BY f),
      |w AS (
      |  SELECT f.doc_id,
      |    CAST(sum(($DsirScale * (c.t_f + 1)) // (c.r_f + 2)) AS BIGINT)
      |      // count(*) AS w
      |  FROM f JOIN c USING (f)
      |  GROUP BY f.doc_id),
      |a AS (
      |  SELECT count(*) AS n_docs, sum(CAST(w AS HUGEINT)) AS sw,
      |    sum(CAST(w AS HUGEINT) * w) AS sw2
      |  FROM w)
      |SELECT n_docs, CAST(sw AS BIGINT) AS sum_w, CAST(sw2 AS BIGINT) AS sum_w2,
      |  CAST(sw * sw // sw2 AS BIGINT) AS ess,
      |  CAST(sw * sw * 1048576 // (sw2 * n_docs) AS BIGINT) AS ess_share_fp
      |FROM a""".stripMargin
  }

  // q219 — max-min fair-share allocation (water-filling): divide a
  // global token budget (60% of the corpus total) across sources so
  // that no source that could be fully satisfied is cut, and every
  // capped source gets the SAME water level θ — the classic max-min
  // fairness rule (link scheduling, GPU quota, and here: how many
  // tokens each source contributes to a capped training mix without
  // letting a giant crawl drown the small curated sets; contrast q98,
  // which allocates WITHIN a source by quality, and q79, which
  // reweights by temperature). Exact integer water level: sources
  // sorted by demand, θ = (B − prefix_below) DIV n_capped at the first
  // demand the remaining budget cannot cover; alloc = min(demand, θ);
  // the integer-DIV remainder is reported, not silently spread.
  //
  // Scale shape: the corpus collapses in one per-source token
  // aggregate; everything after runs on the |sources|-sized frame
  // (window over sources — bounded by schema, not data).
  /** Core water-filling over a (source, demand) frame: budget =
    * total·budgetPctX10 DIV 10. Fixture-tested in SamplingFairSpec
    * (the real data's near-uniform demands only exercise the all-capped
    * branch; the spec pins the mixed satisfied/capped case).
    */
  private[graft] def waterFillOf(dem: DataFrame, budgetPctX10: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tot = dem.agg(sum(col("demand")).as("total"),
      count(lit(1)).as("m"))
    val w = Window.partitionBy(lit(1)).orderBy(col("demand"), col("source"))
    val ranked = dem.crossJoin(broadcast(tot))
      .withColumn("budget", expr(s"total * $budgetPctX10 DIV 10"))
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("prefix", sum(col("demand")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("prefix", coalesce(col("prefix"), lit(0L)))
      // water level at row i if the cap lands here: remaining budget
      // split over this and all larger demands
      .withColumn("theta_i", expr("(budget - prefix) DIV (m - i + 1)"))
    // the binding level is θ at the FIRST row the budget cannot fully
    // cover: every later row is also binding with a strictly smaller
    // θ_i (its prefix charges the full uncovered demand), so the first
    // = the max over binding rows; ∞ (null) if the budget covers all
    val theta = ranked.filter(col("demand") > col("theta_i"))
      .agg(max(col("theta_i")).as("theta"))
    ranked.crossJoin(broadcast(theta))
      .select(col("source"), col("demand"), col("budget"),
        when(col("theta").isNull, col("demand"))
          .otherwise(least(col("demand"), col("theta"))).as("alloc"),
        (col("theta").isNotNull && col("demand") > col("theta")).as("capped"))
      .orderBy(col("source"))
  }

  private def q219(s: SparkSession, d: String): DataFrame =
    waterFillOf(documents(s, d)
        .select(col("source"), tokenCount(col("text")).as("nt"))
        .groupBy(col("source")).agg(sum(col("nt")).as("demand")),
      budgetPctX10 = 6L)

  private val q219Sql = {
    val toks = "len(regexp_extract_all(lower(text), '[a-z0-9]+'))"
    s"""WITH dem AS (
      |  SELECT source, CAST(sum($toks) AS BIGINT) AS demand
      |  FROM documents GROUP BY source),
      |t AS (SELECT CAST(sum(demand) AS BIGINT) AS total,
      |  count(*) AS m FROM dem),
      |r AS (
      |  SELECT dem.source, dem.demand, t.total * 6 // 10 AS budget, t.m,
      |    row_number() OVER (ORDER BY demand, source) AS i,
      |    coalesce(sum(demand) OVER (ORDER BY demand, source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
      |  FROM dem, t),
      |r2 AS (
      |  SELECT *, (budget - prefix) // (m - i + 1) AS theta_i FROM r),
      |th AS (
      |  SELECT max(theta_i) AS theta FROM r2 WHERE demand > theta_i)
      |SELECT source, demand, budget,
      |  CAST(CASE WHEN th.theta IS NULL THEN demand
      |       ELSE least(demand, th.theta) END AS BIGINT) AS alloc,
      |  (th.theta IS NOT NULL AND demand > th.theta) AS capped
      |FROM r2, th
      |ORDER BY source""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("q78_reservoir_stratified", q78, Some(q78Sql)),
    Q("q79_mixture_sample", q79, Some(q79Sql)),
    Q("q80_sequence_packing", q80, Some(q80Sql)),
    Q("q89_split_assign", q89, Some(q89Sql)),
    Q("q92_negative_pairs", q92, Some(q92Sql)),
    Q("q98_token_budget", q98, Some(q98Sql)),
    Q("q103_quality_calibrated", q103, Some(q103Sql)),
    Q("q104_epoch_shuffle", q104, Some(q104Sql)),
    Q("q105_repetition_schedule", q105, Some(q105Sql)),
    Q("q107_stride_interleave", q107, Some(q107Sql)),
    Q("q115_dsir_weights", q115, Some(q115Sql)),
    Q("q131_dsir_resample", q131, Some(q131Sql)),
    Q("q138_priority_sample", q138, Some(q138Sql)),
    Q("q206_ess_weights", q206, Some(q206Sql)),
    Q("q219_maxmin_fairshare", q219, Some(q219Sql)),
  )
}
