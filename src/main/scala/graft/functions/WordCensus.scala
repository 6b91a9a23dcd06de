package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `word_census(text)`: one element `(tok, cnt)` per distinct token of
  * the text, in first-occurrence order — the per-document lexeme census
  * the reference's `to_tsvector` builds in one C pass, and what
  * `explode(filter(split(text, ' '), x -> x <> ''))` followed by a
  * (doc, tok) count computes relationally. Null text gives null, text
  * without tokens an empty array. */
case class WordCensusExpr(child: Expression) extends UnaryExpression with DerivationKernel {

  override def dataType: DataType = WordCensus.CensusType
  override def prettyName: String = "word_census"

  override protected def nullSafeEval(input: Any): Any =
    WordCensus.census(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordCensus.census($c)")

  override protected def withNewChildInternal(newChild: Expression): WordCensusExpr =
    copy(child = newChild)
}

/** `word_stats(text, 'w1,w2,...')`: the per-document rollup of the word
  * census without materializing it — `n` tokens, `n_distinct`, `max_cnt`,
  * `sum_len` = Σ cnt·length(tok) in code points, `stop_hits` = how many
  * DISTINCT stop words occur, `slc` = Σ cnt·lnμ(cnt) — each equal to the
  * aggregate the relational census computes over the same rows. The stop
  * list is a comma-separated string literal, folded at registration. */
case class WordStats(child: Expression, stopList: String) extends UnaryExpression with DerivationKernel {

  @transient private lazy val stops: Array[Array[Byte]] = WordCensus.stopWords(stopList)

  override def dataType: DataType = WordCensus.StatsType
  override def prettyName: String = "word_stats"

  override protected def nullSafeEval(input: Any): Any =
    WordCensus.stats(input.asInstanceOf[UTF8String], stops)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stops", stops, "byte[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.WordCensus.stats($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): WordStats =
    copy(child = newChild)
}

/** One tokenize-and-count pass per document behind both expressions.
  *
  * A token is a maximal run of bytes other than 0x20 — exactly the
  * non-empty elements of `split(text, ' ')`, since in UTF-8 the space
  * byte never occurs inside a multi-byte character (tabs and newlines
  * stay inside tokens). Distinct tokens are counted in an
  * open-addressing table over (start, length) slices of the text's
  * bytes, so the scan allocates no string per occurrence and nothing
  * crosses a shuffle; the relational form explodes every token and
  * aggregates twice behind two exchanges.
  */
object WordCensus {

  val CensusType: ArrayType = ArrayType(StructType(Seq(
    StructField("tok", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false))), containsNull = false)

  val StatsFields: Seq[String] =
    Seq("n", "n_distinct", "max_cnt", "sum_len", "stop_hits", "slc")

  val StatsType: StructType =
    StructType(StatsFields.map(StructField(_, LongType, nullable = false)))

  /** The distinct stop words of a comma-separated list, as UTF-8 bytes
    * (a repeated word counts once, as `tok IN (...)` over census rows). */
  def stopWords(list: String): Array[Array[Byte]] =
    list.split(",", -1).filter(_.nonEmpty).distinct.map(_.getBytes("UTF-8"))

  /** lnμ(c) = `CAST(round(ln(c) * 1000000.0) AS BIGINT)`: Spark's `ln` is
    * StrictMath.log and `round` to scale 0 is half-up, so for c ≥ 1 this
    * is bit-identical to the SQL expression (FunctionsSpec checks 1..1e5). */
  def lnMicro(c: Long): Long = Math.round(StrictMath.log(c.toDouble) * 1000000.0)

  def census(s: UTF8String): ArrayData = {
    val t = count(s)
    val out = new Array[Any](t.size)
    var e = 0
    while (e < t.size) {
      val tok = java.util.Arrays.copyOfRange(t.bytes, t.starts(e), t.starts(e) + t.lens(e))
      out(e) = new GenericInternalRow(Array[Any](UTF8String.fromBytes(tok), t.counts(e)))
      e += 1
    }
    new GenericArrayData(out)
  }

  def stats(s: UTF8String, stops: Array[Array[Byte]]): InternalRow = {
    val t = count(s)
    var n, maxCnt, sumLen, slc = 0L
    var e = 0
    while (e < t.size) {
      val c = t.counts(e)
      n += c
      if (c > maxCnt) maxCnt = c
      sumLen += c * numChars(t.bytes, t.starts(e), t.lens(e))
      slc += c * lnMicro(c)
      e += 1
    }
    val hits = stops.count(t.contains).toLong
    new GenericInternalRow(Array[Any](n, t.size.toLong, maxCnt, sumLen, hits, slc))
  }

  /** Code points the way `UTF8String.numChars` counts them, so `sum_len`
    * matches `length(tok)` on any bytes. */
  private def numChars(b: Array[Byte], start: Int, len: Int): Long = {
    var i = 0
    var k = 0L
    while (i < len) { i += UTF8String.numBytesForFirstByte(b(start + i)); k += 1 }
    k
  }

  private def hash(b: Array[Byte], start: Int, len: Int): Int = {
    var h = 0
    var i = start
    while (i < start + len) { h = 31 * h + b(i); i += 1 }
    h ^ (h >>> 16)
  }

  private def count(s: UTF8String): Table = {
    val b = s.getBytes
    val t = new Table(b)
    val n = b.length
    var i = 0
    while (i < n) {
      while (i < n && b(i) == ' ') i += 1
      val start = i
      while (i < n && b(i) != ' ') i += 1
      if (i > start) t.add(start, i - start, hash(b, start, i - start))
    }
    t
  }

  /** Distinct (start, len) slices of `bytes` with their counts, in
    * first-occurrence order; linear probing, kept at most half full. */
  private final class Table(val bytes: Array[Byte]) {
    var size = 0
    var starts = new Array[Int](8)
    var lens = new Array[Int](8)
    var counts = new Array[Long](8)
    private var hashes = new Array[Int](8)
    private var slots = new Array[Int](16) // entry + 1; 0 = empty

    /** The entry holding the token `k[start, start + len)`, or -1. */
    private def find(k: Array[Byte], start: Int, len: Int, h: Int): Int = {
      val mask = slots.length - 1
      var p = h & mask
      while (slots(p) != 0) {
        val e = slots(p) - 1
        if (hashes(e) == h && lens(e) == len &&
            java.util.Arrays.equals(bytes, starts(e), starts(e) + len, k, start, start + len))
          return e
        p = (p + 1) & mask
      }
      -1
    }

    def contains(k: Array[Byte]): Boolean = find(k, 0, k.length, hash(k, 0, k.length)) >= 0

    def add(start: Int, len: Int, h: Int): Unit = {
      val e = find(bytes, start, len, h)
      if (e >= 0) counts(e) += 1
      else {
        if (size == starts.length) {
          starts = java.util.Arrays.copyOf(starts, size * 2)
          lens = java.util.Arrays.copyOf(lens, size * 2)
          counts = java.util.Arrays.copyOf(counts, size * 2)
          hashes = java.util.Arrays.copyOf(hashes, size * 2)
        }
        starts(size) = start; lens(size) = len; counts(size) = 1; hashes(size) = h
        size += 1
        if (size * 2 <= slots.length) place(size - 1)
        else {
          slots = new Array[Int](slots.length * 2)
          var i = 0
          while (i < size) { place(i); i += 1 }
        }
      }
    }

    private def place(e: Int): Unit = {
      val mask = slots.length - 1
      var p = hashes(e) & mask
      while (slots(p) != 0) p = (p + 1) & mask
      slots(p) = e + 1
    }
  }
}
