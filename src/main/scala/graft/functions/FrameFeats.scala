package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-frame integer features over fixed-width codepoint frames — the
  * LINEAR kernel behind m06 (VAD energy), m08 (scene cuts) and m09
  * (scene-aware sampling). Its array feeds `voiced_runs` or
  * `scene_census` ([[FrameSegments]]) in the same projection, so the
  * frames never become rows. One compiled pass per document:
  * materialize the codepoint array once (the Winnow.fps discipline),
  * then fold each complete `width`-long frame into one Long. Replaces
  * the HOF form
  * `aggregate(sequence(1,16), …, ascii(substring(text, f*16+i, 1)))`,
  * whose per-frame `substring` is an O(position) UTF8String walk —
  * O(L²/width) per document, a scale-killer on long documents even
  * though it is invisible on KB-sized rows.
  *
  * Frame count = ⌊codepoints/width⌋, chars past the last complete frame
  * ignored — exactly the `sequence(0, n_chars div 16 − 1)` contract the
  * oracles replay (the corpus keeps n_chars = length(text), asserted in
  * FunctionsSpec).
  *
  * energy=false: Σ codepoint (m08's frame feature, the stub for a frame
  * histogram). energy=true: Σ (codepoint−32)² (m06's VAD energy, space
  * ≡ silence). Reference analog: the per-frame feature extraction a
  * media pipeline runs before segmentation; the payload contract is
  * the m-family's documented stub.
  */
case class FrameFeats(child: Expression, width: Int, energy: Boolean)
    extends UnaryExpression with DerivationKernel {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = if (energy) "frame_energy" else "frame_sums"

  override protected def nullSafeEval(input: Any): Any =
    FrameFeats.compute(input.asInstanceOf[UTF8String], width, energy)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.FrameFeats.compute($c, $width, $energy)")

  override protected def withNewChildInternal(newChild: Expression): FrameFeats =
    copy(child = newChild)
}

/** Character n-grams in ONE pass — the t18 kernel. `substring(t, i, n)`
  * per exploded position is an O(position) UTF8String walk (quadratic in
  * document length, the same hazard class FrameFeats fixes for m06/m08;
  * caught by the r10 length-axis sweep at 4.8×/64× length); this
  * materializes the codepoint array once and emits all ⌈L−n+1⌉ grams in
  * O(L·n). Same gram set/order as the positional form. */
case class CharGrams(child: Expression, n: Int) extends UnaryExpression with DerivationKernel {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_grams"

  override protected def nullSafeEval(input: Any): Any =
    CharGrams.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharGrams.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): CharGrams =
    copy(child = newChild)
}

object CharGrams {
  def compute(s: UTF8String, n: Int): ArrayData = {
    val cps = s.toString.codePoints().toArray
    val m = math.max(cps.length - n + 1, 0)
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      out(i) = UTF8String.fromString(new String(cps, i, n))
      i += 1
    }
    new GenericArrayData(out)
  }
}

object FrameFeats {
  /** One O(L) pass: codepoint array once, then a strided integer fold
    * into an unboxed array. */
  def compute(s: UTF8String, width: Int, energy: Boolean): ArrayData = {
    val cps = s.toString.codePoints().toArray
    val n = cps.length / width
    val out = new Array[Long](n)
    var f = 0
    var i = 0
    while (f < n) {
      var acc = 0L
      var j = 0
      while (j < width) {
        val c = cps(i).toLong
        acc += (if (energy) { val d = c - 32L; d * d } else c)
        i += 1; j += 1
      }
      out(f) = acc
      f += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
