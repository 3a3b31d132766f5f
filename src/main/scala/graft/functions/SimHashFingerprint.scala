package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** SimHash fingerprint of a document in ONE expression eval.
  *
  * Semantically identical to the composed built-in pipeline
  *   tokens → polyHash each → per bit b: sign_b(h) = parity of the b-th
  *   affine re-mix ((h·A_b + B_b) mod P), bit set iff Σ signs >= 0
  * (OperatorParitySpec.simhashSigsComposed, oracle'd in DuckDB), but evaluated in tight
  * JVM loops: the composed form runs `nBits` interpreted `aggregate` HOFs
  * per row, which made the pair join compute the fingerprint stage twice
  * at ~1.3s/side at sf0.1 — this expression is the same ~ms-scale kernel
  * shape as MinHashSignature.
  *
  * Empty/blank docs: zero tokens → every per-bit sum is 0 → all bits set
  * (matches `aggregate(empty, 0L, …) = 0 >= 0` in the composed form).
  */
case class SimHashFingerprint(child: Expression, nBits: Int)
    extends UnaryExpression with CodegenFallback {

  private val P = TextFunctions.HashMod

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_fingerprint"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  // Per-bit affine params — the same canonical permutation family as
  // minhash (MinHashSignature.permA/B); must match the composed form and
  // the oracle.
  private val as: Array[Long] = Array.tabulate(nBits)(MinHashSignature.permA)
  private val bs: Array[Long] = Array.tabulate(nBits)(MinHashSignature.permB)

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    val toks = text.trim.split(TextFunctions.WsClass + "+").filter(_.nonEmpty)
    val sums = new Array[Long](nBits)
    var t = 0
    while (t < toks.length) {
      // polyHash: fold (h*31 + code) mod P over the token's chars.
      val w = toks(t)
      var h = 0L
      var j = 0
      while (j < w.length) {
        h = (h * 31L + w.charAt(j).toLong) % P
        j += 1
      }
      var b = 0
      while (b < nBits) {
        sums(b) += ((h * as(b) + bs(b)) % P % 2L) * 2L - 1L
        b += 1
      }
      t += 1
    }
    var fp = 0L
    var b = 0
    while (b < nBits) {
      if (sums(b) >= 0L) fp |= 1L << b
      b += 1
    }
    fp
  }
}

object SimHashFingerprint {
  /** Column builder: fingerprint over the (pre-lowered) text column. */
  def simhashFingerprint(text: Column, nBits: Int): Column =
    org.apache.spark.sql.graftshim.GraftShim.column(
      SimHashFingerprint(org.apache.spark.sql.graftshim.GraftShim.expression(text), nBits))
}
