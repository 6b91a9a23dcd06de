package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The Porter stemming algorithm (M.F. Porter, "An algorithm for suffix
  * stripping", Program 14(3) 1980 — the public spec behind the
  * reference's `english` snowball config, `src/backend/snowball/
  * libstemmer/stem_UTF_8_english.c`; this is the classic 1980 Porter,
  * written from the published algorithm description).
  *
  * A native Catalyst expression: `doGenCode` emits a static call so the
  * stemmer runs inside whole-stage codegen. The 100 TB usage pattern is
  * NOT per-token stemming of the corpus, though — it's stemming the
  * token CENSUS (vocabulary-sized by Heaps' law) once and broadcast-
  * joining the dictionary back, which is what f14 does.
  */
case class PorterStem(child: Expression) extends UnaryExpression with DerivationKernel {
  override def dataType: DataType = StringType
  override def prettyName: String = "porter_stem"

  override protected def nullSafeEval(w: Any): Any =
    UTF8String.fromString(PorterStem.stem(w.toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, w =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.PorterStem.stem($w.toString()))")

  override protected def withNewChildInternal(newChild: Expression): PorterStem =
    copy(child = newChild)
}

object PorterStem {

  /** m>0-style conditions are evaluated on the candidate stem (the word
    * minus the matched suffix), exactly as the paper defines them. In
    * steps 2–4 the LONGEST matching suffix is selected first and, if its
    * condition fails, NO shorter suffix is tried (the published
    * reference implementation's per-step `break` behavior — e.g.
    * "rational" survives step 2 because ATIONAL matches with m=0). */
  def stem(word: String): String = {
    var s = word.toLowerCase
    if (s.length <= 2 || !s.forall(c => c >= 'a' && c <= 'z')) return s

    def cons(str: String, i: Int): Boolean = str.charAt(i) match {
      case 'a' | 'e' | 'i' | 'o' | 'u' => false
      case 'y' => i == 0 || !cons(str, i - 1)
      case _ => true
    }
    // the measure m: [C](VC)^m[V]
    def m(str: String): Int = {
      var n = 0; var i = 0; val l = str.length
      while (i < l && cons(str, i)) i += 1
      while (i < l) {
        while (i < l && !cons(str, i)) i += 1
        if (i < l) { n += 1; while (i < l && cons(str, i)) i += 1 }
      }
      n
    }
    def hasVowel(str: String): Boolean =
      (0 until str.length).exists(i => !cons(str, i))
    def doubleC(str: String): Boolean =
      str.length >= 2 && str.charAt(str.length - 1) == str.charAt(str.length - 2) &&
        cons(str, str.length - 1)
    def cvc(str: String): Boolean = {
      val l = str.length
      l >= 3 && cons(str, l - 3) && !cons(str, l - 2) && cons(str, l - 1) &&
        !"wxy".contains(str.charAt(l - 1))
    }
    def chop(suf: String, rep: String): String =
      s.substring(0, s.length - suf.length) + rep

    // Step 1a
    if (s.endsWith("sses")) s = chop("sses", "ss")
    else if (s.endsWith("ies")) s = chop("ies", "i")
    else if (s.endsWith("ss")) ()
    else if (s.endsWith("s")) s = s.dropRight(1)

    // Step 1b
    var cleanup1b = false
    if (s.endsWith("eed")) {
      if (m(s.dropRight(3)) > 0) s = s.dropRight(1)
    } else if (s.endsWith("ed") && hasVowel(s.dropRight(2))) {
      s = s.dropRight(2); cleanup1b = true
    } else if (s.endsWith("ing") && hasVowel(s.dropRight(3))) {
      s = s.dropRight(3); cleanup1b = true
    }
    if (cleanup1b) {
      if (s.endsWith("at") || s.endsWith("bl") || s.endsWith("iz")) s = s + "e"
      else if (doubleC(s) && !"lsz".contains(s.last)) s = s.dropRight(1)
      else if (m(s) == 1 && cvc(s)) s = s + "e"
    }

    // Step 1c
    if (s.endsWith("y") && hasVowel(s.dropRight(1))) s = s.dropRight(1) + "i"

    // Steps 2–4: longest-match-first, stop at the first matched suffix
    def applyStep(rules: Seq[(String, String)], cond: String => Boolean): Unit =
      rules.find { case (suf, _) => s.endsWith(suf) } match {
        case Some((suf, rep)) if cond(s.dropRight(suf.length)) => s = chop(suf, rep)
        case _ => ()
      }

    applyStep(Seq(
      "ational" -> "ate", "ization" -> "ize", "iveness" -> "ive",
      "fulness" -> "ful", "ousness" -> "ous", "tional" -> "tion",
      "biliti" -> "ble", "ousli" -> "ous", "ation" -> "ate",
      "alism" -> "al", "aliti" -> "al", "iviti" -> "ive",
      "entli" -> "ent", "enci" -> "ence", "anci" -> "ance",
      "izer" -> "ize", "abli" -> "able", "alli" -> "al",
      "ator" -> "ate", "eli" -> "e"), st => m(st) > 0)

    applyStep(Seq(
      "icate" -> "ic", "ative" -> "", "alize" -> "al",
      "iciti" -> "ic", "ical" -> "ic", "ness" -> "", "ful" -> ""),
      st => m(st) > 0)

    // Step 4: ION only counts as matched when the stem ends in s/t
    val step4 = Seq(
      "ement" -> "", "ance" -> "", "ence" -> "", "able" -> "", "ible" -> "",
      "ment" -> "", "ion" -> "", "ism" -> "", "ate" -> "", "iti" -> "",
      "ous" -> "", "ive" -> "", "ize" -> "", "ant" -> "", "ent" -> "",
      "al" -> "", "er" -> "", "ic" -> "", "ou" -> "")
    step4.find { case (suf, _) =>
      s.endsWith(suf) &&
        (suf != "ion" || {
          val st = s.dropRight(3)
          st.nonEmpty && (st.last == 's' || st.last == 't')
        })
    } match {
      case Some((suf, _)) if m(s.dropRight(suf.length)) > 1 => s = chop(suf, "")
      case _ => ()
    }

    // Step 5a
    if (s.endsWith("e")) {
      val a = s.dropRight(1)
      if (m(a) > 1 || (m(a) == 1 && !cvc(a))) s = a
    }
    // Step 5b
    if (s.nonEmpty && s.last == 'l' && doubleC(s) && m(s) > 1) s = s.dropRight(1)
    s
  }
}
