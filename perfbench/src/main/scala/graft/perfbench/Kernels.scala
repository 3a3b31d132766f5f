package graft.perfbench

import graft.functions._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import scala.util.Random

/** Timed calls into the `functions` kernels on seeded inputs: median
  * nanoseconds per call over several rounds. */
object Kernels {

  private val Rounds = 7

  private def nsPerCall(n: Int)(call: Int => Any): Double = {
    var sink = 0
    val per = (0 until Rounds).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { sink ^= call(i).hashCode(); i += 1 }
      (System.nanoTime() - t0).toDouble / n
    }
    if (sink == 42) System.err.print("")
    Stats.median(per.drop(2)) // the first rounds warm the JIT
  }

  def measure(ctx: Ctx): Unit = {
    val r = new Random(ctx.seed ^ 0x4e4eL)
    val n = 2000
    val names = Inputs.names(r, n).map(UTF8String.fromString)
    val typos = names.map(s => UTF8String.fromString(Serving.typo(r, s.toString)))
    val texts = Inputs.docTexts(r, 200)
    val textU = texts.map(UTF8String.fromString)
    val toks: IndexedSeq[ArrayData] = texts.map(t =>
      new GenericArrayData(t.split(" ").map(UTF8String.fromString).toArray[Any]))
    def vec(): ArrayData =
      new GenericArrayData(Array.fill[Any](64)(r.nextGaussian().toFloat))
    val va = IndexedSeq.fill(n)(vec())
    val vb = IndexedSeq.fill(n)(vec())
    def sig(): ArrayData = new GenericArrayData(Array.fill[Any](32)(r.nextInt(64).toLong))
    val sa = IndexedSeq.fill(n)(sig())
    val sb = IndexedSeq.fill(n)(sig())

    ctx.layers("kernel_ns.dl") = nsPerCall(n)(i => DamerauLevenshtein.distance(names(i), typos(i)))
    ctx.layers("kernel_ns.trigram") = nsPerCall(n)(i => CharNgramsExpr.kernel(names(i), 3, false))
    ctx.layers("kernel_ns.cosine") = nsPerCall(n)(i => VectorFunctions.cosineKernel(va(i), vb(i)))
    ctx.layers("kernel_ns.polyhash") = nsPerCall(n)(i => PolyHashExpr.kernel(textU(i % textU.size)))
    ctx.layers("kernel_ns.token_windows") =
      nsPerCall(n)(i => TokenWindowsExpr.kernel(toks(i % toks.size), 8))
    ctx.layers("kernel_ns.sig_agree") = nsPerCall(n)(i => SigAgreeExpr.kernel(sa(i), sb(i), 32))
  }
}
