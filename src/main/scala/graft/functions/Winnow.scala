package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD
  * 2003 — the MOSS algorithm): char k-gram rolling hashes → sliding
  * window of `w` grams → keep the window minimum (rightmost on ties) →
  * distinct selected hashes. Guarantees every shared substring of
  * length ≥ k+w−1 contributes at least one shared fingerprint, so
  * substring-level plagiarism/excerpt overlap is detectable from the
  * ~2/(w+1)-density fingerprint sets alone — the text itself never
  * travels past the scan.
  *
  * One compiled pass per document: O(L) rolling hash (base 31 mod 1e9+7,
  * the same arithmetic as StrHash / the t04 oracle so DuckDB can rerun
  * it verbatim), O(L) monotonic-deque window minimum. Reference analog:
  * contrib/pg_trgm's trgm_op.c extracts character n-gram signatures for
  * similarity; winnowing is the scale-stable subsample of exactly that
  * signature space.
  */
case class WinnowFps(child: Expression, k: Int, w: Int) extends UnaryExpression with DerivationKernel {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fps"

  override protected def nullSafeEval(input: Any): Any =
    Winnow.fps(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Winnow.fps($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowFps =
    copy(child = newChild)
}

object Winnow {
  private val P = 1000000007L
  private val B = 31L

  /** Sorted distinct winnowed fingerprints of `s`.
    *
    * Mirrors the relational oracle exactly: with L = codepoint length,
    * m = max(L−k+1, 1) gram positions, klen = min(k, L) chars per gram,
    * the gram hash is the mod-P base-31 fold of its codepoints; windows
    * start at 1..max(m−w+1, 1) and span min(w, remaining) grams; the
    * rightmost minimal gram of each window is selected.
    */
  def fps(s: UTF8String, k: Int, w: Int): ArrayData = {
    val str = s.toString
    val cps = str.codePoints().toArray
    val L = cps.length
    val m = math.max(L - k + 1, 1)
    val klen = math.min(k, L)

    // gram hashes, one rolling pass
    val g = new Array[Long](m)
    var h = 0L
    var j = 0
    while (j < klen) { h = (h * B + cps(j)) % P; j += 1 }
    g(0) = h
    if (m > 1) {
      // pw = B^(klen-1) mod P — the weight of the outgoing char
      var pw = 1L
      j = 1
      while (j < klen) { pw = pw * B % P; j += 1 }
      var i = 1
      while (i < m) {
        h = (h + P - cps(i - 1) * pw % P) % P
        h = (h * B + cps(i + klen - 1)) % P
        g(i) = h
        i += 1
      }
    }

    // sliding-window minimum, rightmost on ties: monotonic deque whose
    // push pops every element >= the newcomer, so among equal hashes the
    // rightmost survives at the front
    val dq = new Array[Int](m) // indices into g, increasing hash front->back
    var head = 0
    var tail = 0 // exclusive
    val sel = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < m) {
      while (tail > head && g(dq(tail - 1)) >= g(i)) tail -= 1
      dq(tail) = i; tail += 1
      val wstart = i - w + 1 // window [wstart, i] is complete once i >= w-1
      while (wstart > 0 && dq(head) < wstart) head += 1
      // select once the first full (or clipped, when m < w) window closes;
      // wstart <= nWin-1 holds for every i < m so no upper guard is needed
      if (i >= math.min(w, m) - 1) sel.add(g(dq(head)))
      i += 1
    }

    val out = new Array[Long](sel.size)
    val it = sel.iterator()
    var n = 0
    while (it.hasNext) { out(n) = it.next(); n += 1 }
    new GenericArrayData(out)
  }
}
