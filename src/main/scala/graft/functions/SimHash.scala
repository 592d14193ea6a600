package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** 64-bit SimHash over a token array — a native Catalyst expression
  * (not a Scala UDF) so it evaluates per-row inside the operator
  * pipeline with zero shuffle amplification: the naive SQL formulation
  * explodes |tokens| × 64 rows per document, which at 100 TB is a
  * non-starter; this computes the signature in one pass over the array.
  *
  * Bit b of the signature is 1 iff the sum over tokens of
  * sign(bit b of xxhash64(token, seed=42)) is positive — the standard
  * Charikar construction. Near-duplicate docs differ in few bits, so
  * candidate pairs come from banding the signature (see
  * [[graft.operators.DedupOps.dedupSimhash]]) and Hamming distance is
  * `bit_count(a ^ b)` (native, codegen'd).
  */
case class SimHash(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash"

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(kernel(input.asInstanceOf[ArrayData]))

  /** One signature loop shared by interpreted eval and the generated
    * code (codegen reference object) — bit-parity by construction,
    * whole-stage codegen preserved. */
  def kernel(arr: ArrayData): Long = {
    val counts = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var r = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) r |= (1L << b)
      b += 1
    }
    r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val ref = ctx.addReferenceObj("simHash", this, classOf[SimHash].getName)
      s"${ev.value} = $ref.kernel($arr);"
    })

  override protected def withNewChildInternal(c: Expression): SimHash = copy(child = c)
}

/** Session registration for graft's native functions (SQL-callable). */
object GraftFunctions {
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash", exprs => SimHash(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim", exprs => CosineSim(exprs(0), exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sq_dist", exprs => SqDist(exprs(0), exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bucket_counts", exprs => BucketCounts(exprs(0), exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bloom_might_contain",
      exprs => BloomMightContain(exprs(0), exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "triple_in", exprs => TripleIn(exprs(0), exprs(1), exprs(2), exprs(3)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash_agg",
      exprs => SimHashAgg(exprs.head).toAggregateExpression(), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash_md5", exprs => SimHashMd5(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash_md5_agg",
      exprs => SimHashMd5Agg(exprs.head).toAggregateExpression(), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_md5", exprs => MinHashMd5(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sorted_pairs", exprs => SortedPairs(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "word_shingles", exprs =>
        if (exprs.length > 1)
          WordShingles(exprs.head, exprs(1).eval().asInstanceOf[Int])
        else WordShingles(exprs.head),
      "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "hyperplane_sig", exprs => HyperplaneSig(exprs.head,
        exprs(1).eval().asInstanceOf[Int], exprs(2).eval().asInstanceOf[Int]),
      "scala_udf")
  }
}

/** SparkSessionExtensions entry point: lets a deployment inject graft's
  * native functions at session build time —
  *
  *   builder.withExtensions(new GraftExtensions)
  *   // or spark.sql.extensions=graft.functions.GraftExtensions
  *
  * so `simhash` / `cosine_sim` are available in plain SQL on every
  * session of a cluster without any per-session registration call.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    e.injectFunction((FunctionIdentifier("simhash"),
      new ExpressionInfo(classOf[SimHash].getName, "simhash"),
      (exprs: Seq[Expression]) => SimHash(exprs.head)))
    e.injectFunction((FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSim(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("sq_dist"),
      new ExpressionInfo(classOf[SqDist].getName, "sq_dist"),
      (exprs: Seq[Expression]) => SqDist(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("bucket_counts"),
      new ExpressionInfo(classOf[BucketCounts].getName, "bucket_counts"),
      (exprs: Seq[Expression]) => BucketCounts(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("triple_in"),
      new ExpressionInfo(classOf[TripleIn].getName, "triple_in"),
      (exprs: Seq[Expression]) => TripleIn(exprs(0), exprs(1), exprs(2), exprs(3))))
  }
}
