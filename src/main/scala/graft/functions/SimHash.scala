package graft.functions

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
