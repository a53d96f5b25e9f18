package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native Catalyst expression for cosine similarity over two
  * `array<float>` embedding columns.
  *
  * Why a custom Expression instead of `aggregate(zip_with(...))`
  * (SURVEY.md §7.3, builder-prompt preference order): the higher-order
  * function chain allocates three intermediate ArrayData per row and
  * boxes every element; this expression runs one fused primitive loop
  * inside whole-stage codegen — the hot inner loop of a 100 TB ANN scan.
  *
  * Arithmetic contract (keeps it oracle-checkable): accumulate dot and
  * the two norms in float64, in index order, then
  * `dot / (sqrt(na) * sqrt(nb))`. Every step is a correctly-rounded
  * IEEE op on identical inputs, so DuckDB's
  * `list_reduce(list_transform(...))` form produces bit-identical
  * doubles. NULL on null/empty/zero-norm/length-mismatch input.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects two array<float> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val dx = x.getFloat(i).toDouble
      val dy = y.getFloat(i).toDouble
      dot += dx * dy; na += dx * dx; nb += dy * dy
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val dx = ctx.freshName("dx")
      val dy = ctx.freshName("dy")
      val denom = ctx.freshName("denom")
      s"""
         |if ($x.numElements() != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $x.numElements();
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $dx = (double) $x.getFloat($i);
         |    double $dy = (double) $y.getFloat($i);
         |    $dot += $dx * $dy; $na += $dx * $dx; $nb += $dy * $dy;
         |  }
         |  double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |  if ($denom == 0.0) { ${ev.isNull} = true; }
         |  else { ${ev.value} = $dot / $denom; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Sign-random-projection (SRP / Charikar SimHash-for-vectors) code
  * over an `array<float>` embedding: bit b of the result is the sign
  * of the dot product with a deterministic pseudo-random hyperplane
  * h_b, whose components are an LCG step over the flat index
  * (b·dim + d), centered to ±2^30.
  *
  * Why a custom Expression: the HOF form (explode 16 bit rows per
  * vector + aggregate(transform(...)) per row) interprets every
  * element access and boxes the accumulators; this is one fused
  * integer loop in whole-stage codegen, emitting the code directly —
  * no per-bit row explosion at all.
  *
  * Arithmetic contract (oracle bit-exactness): components quantize to
  * `scale` fixed-point exactly like Spark's `round(x * scale)` —
  * half-away-from-zero, exact because a float scaled by a power of
  * two is exact in double and the +0.5 add stays within 53 bits —
  * then the dot is pure 64-bit integer arithmetic, identical in
  * DuckDB BIGINT (`Similarity.q95Sql`).
  */
case class SrpCode(child: Expression, bits: Int, dim: Int, scale: Long)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"srp_code expects array<float>, got ${t.catalogString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "srp_code"

  override def nullSafeEval(input: Any): Any =
    SrpCode.compute(input.asInstanceOf[ArrayData], bits, dim, scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs =>
      s"${ev.value} = graft.functions.SrpCode.compute($xs, $bits, $dim, ${scale}L);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SrpCode {
  /** Static so generated code can call it: one fused loop per row. */
  def compute(xs: ArrayData, bits: Int, dim: Int, scale: Long): Long = {
    val n = xs.numElements()
    val q = new Array[Long](n)
    var i = 0
    while (i < n) {
      val v = xs.getFloat(i).toDouble * scale
      // round half away from zero — v and v±0.5 are exact doubles for
      // float inputs, so this matches Spark round()/DuckDB round()
      q(i) = (if (v >= 0) math.floor(v + 0.5) else math.ceil(v - 0.5)).toLong
      i += 1
    }
    var code = 0L
    var b = 0
    while (b < bits) {
      var dot = 0L
      var d = 0
      while (d < n) {
        dot += ((1103515245L * (b.toLong * dim + d) + 12345L) % 2147483647L
          - 1073741823L) * q(d)
        d += 1
      }
      if (dot >= 0) code |= 1L << b
      b += 1
    }
    code
  }
}

/** Session registration for graft's native SQL functions. Idempotent;
  * call before using `expr("cosine_sim(a, b)")`.
  */
object GraftFunctions {
  import org.apache.spark.sql.catalyst.expressions.{Cast, Conv, Literal, Md5, Substring}

  /** Name → builder for EVERY native graft expression — the single
    * source of truth behind both deployment surfaces: the
    * session-extension path (`spark.sql.extensions=graft.GraftExtensions`,
    * which makes the engine's hot-loop primitives reachable from plain
    * `spark.sql` TEXT with no graft import anywhere) and the
    * programmatic [[register]] path the queries package uses.
    * `hash60` is the expression-level form of [[TextFns.hash60]]
    * (conv(substr(md5(x),1,15),16,10) cast long) so SQL-text users can
    * reproduce every hash-keyed operator, not only the array ones.
    */
  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> (exprs => CosineSimilarity(exprs(0), exprs(1))),
    "minhash_sig" -> (exprs => MinHashSig(exprs(0), graft.queries.Dedup.NumHashes)),
    "sorted_intersect_count" -> (exprs => SortedIntersectCount(exprs(0), exprs(1))),
    "simhash60" -> (exprs => SimHash60(exprs.head)),
    "rolling_hashes" -> (exprs => RollingHashes(exprs(0),
      exprs(1).eval().asInstanceOf[Number].intValue())),
    "repetition_stats" -> (exprs => RepetitionStats(exprs.head)),
    "ngram_hash60" -> (exprs => NGramHash60(exprs(0),
      exprs(1).eval().asInstanceOf[Number].intValue(),
      exprs(2).eval().asInstanceOf[Number].longValue())),
    "srp_code" -> (exprs => SrpCode(exprs(0),
      graft.queries.Similarity.SrpBits, graft.queries.Similarity.SrpDim,
      graft.queries.Similarity.FixScale)),
    "hash60" -> (exprs => Cast(
      Conv(Substring(Md5(exprs.head), Literal(1), Literal(15)),
        Literal(16), Literal(10)), LongType)),
    // lane-wise byte max aggregate (q255's packed-register merge)
    "bytemax" -> (exprs => ByteMaxAgg(exprs.head)),
  )

  /** Registers only the names the session does not know yet: a session
    * built with [[graft.GraftExtensions]] keeps the injected functions.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, b, "built-in")
    }
  }
}
