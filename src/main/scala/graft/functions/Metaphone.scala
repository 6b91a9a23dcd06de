package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Metaphone phonetic code — the ER blocking key users reach for when
  * soundex (fz04) is too coarse. Written from the reference's PG
  * variant of Lawrence Philips' 1990 algorithm
  * (`contrib/fuzzystrmatch/fuzzystrmatch.c:345` `_metaphone`, with
  * `USE_TRADITIONAL_METAPHONE` undefined, i.e. the shipped behavior:
  * CHR/SCH keep the hard K, SCHW → SH): consonants map to a compact
  * phonetic alphabet (SH → 'X', TH → '0'), vowels survive only at the
  * word start, silent letters (GH before a vowel-less tail, KN/GN/PN
  * starts, W/Y without a following vowel, B after M, K after C) drop.
  *
  * Deployment shape is fz04's: a census + probe over word streams, and
  * er01's third blocking key — all codegen (`doGenCode` calls the same
  * static kernel), so the corpus pass stays in one WholeStageCodegen
  * span.
  */
case class MetaphoneExpr(child: Expression, maxLen: Int) extends UnaryExpression with DerivationKernel {
  override def dataType: DataType = StringType
  override def prettyName: String = "metaphone"

  override protected def nullSafeEval(w: Any): Any =
    UTF8String.fromString(Metaphone.code(w.toString, maxLen))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, w =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.Metaphone.code($w.toString(), $maxLen))")

  override protected def withNewChildInternal(newChild: Expression): MetaphoneExpr =
    copy(child = newChild)
}

object Metaphone {

  // fuzzystrmatch.c:112 `_codes` — one bitmask per letter:
  // 1 vowel (AEIOU), 2 passthrough (FJLMNR), 4 affects-H (CGPST),
  // 8 makes-soft (EIY), 16 prevents-GH-to-F (BDH)
  private val Codes: Array[Int] = Array(
    1, 16, 4, 16, 9, 2, 4, 16, 9, 2, 0, 2, 2, 2, 1, 4, 0, 2, 4, 4, 1, 0, 0, 0, 8, 0)

  @inline private def getcode(c: Char): Int =
    if (c >= 'A' && c <= 'Z') Codes(c - 'A') else 0

  @inline private def isVowel(c: Char): Boolean = (getcode(c) & 1) != 0
  @inline private def affectsH(c: Char): Boolean = (getcode(c) & 4) != 0
  @inline private def makesSoft(c: Char): Boolean = (getcode(c) & 8) != 0
  @inline private def noGhToF(c: Char): Boolean = (getcode(c) & 16) != 0
  @inline private def isAlpha(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')

  /** PG metaphone of `word`, at most `maxLen` phonemes (PG's second
    * argument; 4 is the customary key length). ASCII letters only, as
    * in the C (isalpha under the C locale); anything else is a break. */
  def code(word: String, maxLen: Int): String = {
    val w = word.toUpperCase
    val n = w.length
    val out = new java.lang.StringBuilder(maxLen)

    @inline def at(i: Int): Char = if (i >= 0 && i < n) w.charAt(i) else '\u0000'

    var i = 0
    // skip leading non-alphas (empty-ish input → empty code)
    while (i < n && !isAlpha(w.charAt(i))) i += 1
    if (i >= n) return ""

    // -- first letter, special-cased (fuzzystrmatch.c:388) --
    w.charAt(i) match {
      case 'A' =>
        if (at(i + 1) == 'E') { out.append('E'); i += 2 }
        else { out.append('A'); i += 1 }
      case 'G' | 'K' | 'P' =>
        if (at(i + 1) == 'N') { out.append('N'); i += 2 }
      case 'W' =>
        if (at(i + 1) == 'H' || at(i + 1) == 'R') { out.append(at(i + 1)); i += 2 }
        else if (isVowel(at(i + 1))) { out.append('W'); i += 2 }
      case 'X' =>
        out.append('S'); i += 1
      case 'E' | 'I' | 'O' | 'U' =>
        out.append(w.charAt(i)); i += 1
      case _ => ()
    }

    // -- main loop (fuzzystrmatch.c:457) --
    while (i < n && out.length < maxLen) {
      val c = w.charAt(i)
      // lookahead over RAW chars, clamped at the end, like Lookahead()
      val next = at(i + 1)
      val afterNext = if (next == '\u0000') '\u0000' else at(i + 2)
      def ahead(k: Int): Char = at(math.min(i + k, n))
      val prev = at(i - 1)
      var skip = 0

      if (!isAlpha(c)) { i += 1 }
      else if (c == prev && c != 'C') { i += 1 } // drop duplicates, except CC
      else {
        c match {
          case 'B' => if (prev != 'M') out.append('B')
          case 'C' =>
            if (makesSoft(next)) {
              if (afterNext == 'A' && next == 'I') out.append('X') // CIA
              else if (prev == 'S') () // SC[IEY]: dropped
              else out.append('S')
            } else if (next == 'H') {
              // shipped (non-traditional) behavior: CHR / SCH stay hard
              if (afterNext == 'R' || prev == 'S') out.append('K')
              else out.append('X')
              skip += 1
            } else out.append('K')
          case 'D' =>
            if (next == 'G' && makesSoft(afterNext)) { out.append('J'); skip += 1 }
            else out.append('T')
          case 'G' =>
            if (next == 'H') {
              if (!(noGhToF(at(i - 3)) || at(i - 4) == 'H')) {
                out.append('F'); skip += 1
              } // else silent
            } else if (next == 'N') {
              if (!isAlpha(afterNext) ||
                  (afterNext == 'E' && ahead(3) == 'D')) () // dropped
              else out.append('K')
            } else if (makesSoft(next) && prev != 'G') out.append('J')
            else out.append('K')
          case 'H' =>
            if (isVowel(next) && !affectsH(prev)) out.append('H')
          case 'K' =>
            if (prev != 'C') out.append('K')
          case 'P' =>
            if (next == 'H') out.append('F') else out.append('P')
          case 'Q' => out.append('K')
          case 'S' =>
            if (next == 'I' && (afterNext == 'O' || afterNext == 'A')) out.append('X')
            else if (next == 'H') { out.append('X'); skip += 1 }
            else if (next == 'C' && ahead(2) == 'H' && ahead(3) == 'W') {
              out.append('X'); skip += 2
            } else out.append('S')
          case 'T' =>
            if (next == 'I' && (afterNext == 'O' || afterNext == 'A')) out.append('X')
            else if (next == 'H') { out.append('0'); skip += 1 } // TH
            else out.append('T')
          case 'V' => out.append('F')
          case 'W' => if (isVowel(next)) out.append('W')
          case 'X' =>
            out.append('K')
            if (out.length < maxLen) out.append('S')
          case 'Y' => if (isVowel(next)) out.append('Y')
          case 'Z' => out.append('S')
          case 'F' | 'J' | 'L' | 'M' | 'N' | 'R' => out.append(c)
          case _ => () // vowels past the first letter: dropped
        }
        i += 1 + skip
      }
    }
    out.toString
  }
}
