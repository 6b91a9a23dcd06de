package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram fingerprints in ONE pass — the r12-verdict d-family
  * kernel: tokenize on spaces, roll each token's 31-base polynomial hash
  * (identical arithmetic to [[StrHash]] / the oracle's per-token
  * `list_reduce`), then Horner-combine each window of `n` consecutive
  * token hashes with base 1000003 mod 1e9+7. Replaces the previous
  * shingle pipeline — `transform(sequence(...), i -> concat(toks[i-3],
  * ' ', ...))` + a char-walk re-hash of every ~25-char gram string —
  * with zero string allocation and one hashed character per CORPUS
  * character: the gram id is arithmetic over token hashes, never a
  * concatenated string. The ids land 8 bytes wide before any exchange,
  * so every downstream posting-list shuffle carries BIGINTs.
  *
  * Short inputs (< n tokens): `emptyOnShort = true` emits no grams
  * (d06/x02's empty-series semantics); `false` emits ONE fingerprint —
  * the raw text's own rolling hash (d02-family semantics: a short doc
  * is its own shingle).
  */
case class WordGrams(child: Expression, n: Int, emptyOnShort: Boolean)
  extends UnaryExpression with DerivationKernel {

  require(n >= 1, s"word_grams31: n must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_grams31"

  override protected def nullSafeEval(input: Any): Any =
    WordGrams.grams(input.asInstanceOf[UTF8String], n, emptyOnShort)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WordGrams.grams($c, $n, $emptyOnShort)")

  override protected def withNewChildInternal(newChild: Expression): WordGrams =
    copy(child = newChild)
}

object WordGrams {
  private val M = 1000000007L
  private val B = 1000003L

  /** One pass: space-tokenize (empty tokens skipped — split-then-filter
    * parity with the `toks` expression), per-token rolling hash, then a
    * sliding Horner combine of `n` token hashes. */
  def grams(s: UTF8String, n: Int, emptyOnShort: Boolean): ArrayData = {
    val str = s.toString
    val len = str.length
    var ths = new Array[Long](math.max(8, len / 4))
    var t = 0
    var i = 0
    while (i < len) {
      while (i < len && str.charAt(i) == ' ') i += 1
      if (i < len) {
        var acc = 0L
        while (i < len && str.charAt(i) != ' ') {
          acc = (acc * 31L + str.charAt(i)) % M
          i += 1
        }
        if (t == ths.length) ths = java.util.Arrays.copyOf(ths, t * 2)
        ths(t) = acc
        t += 1
      }
    }
    if (t < n) {
      if (emptyOnShort) new GenericArrayData(Array.empty[Long])
      else new GenericArrayData(Array(StrHash.hash(s, 31L, 0L)))
    } else {
      val out = new Array[Long](t - n + 1)
      var g = 0
      while (g <= t - n) {
        var h = ths(g)
        var k = 1
        while (k < n) {
          h = (h * B + ths(g + k)) % M
          k += 1
        }
        out(g) = h
        g += 1
      }
      new GenericArrayData(out)
    }
  }
}
