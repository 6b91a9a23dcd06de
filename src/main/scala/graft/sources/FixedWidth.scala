package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.GpDdl.FixedWidthDef

/** Fixed-width external format — the reference's `fixedwidth_in`
  * custom formatter (`contrib/formatter_fixedwidth/fixedwidth.c`; DDL
  * `FORMAT 'CUSTOM' (formatter=fixedwidth_in, col='width', …)`), the
  * layout legacy mainframe/COBOL extracts arrive in: every column
  * occupies a fixed byte range of the line, values left-aligned and
  * blank-padded (`preserve_blanks=off` trims the padding — the
  * formatter default).
  *
  * Spark rendition: the width spec parsed from the DDL text compiles to
  * a per-line substring/trim/try_cast projection — one codegen'd pass,
  * no UDF — and sreh accounting mirrors CsvSreh: a line shorter than
  * the declared total width is "missing data for column" (the
  * formatter's error), a field that fails its type conversion rejects
  * the row, and rejects past `SEGMENT REJECT LIMIT n [ROWS|PERCENT]`
  * abort the load loudly ([[CsvSreh.RejectLimitExceeded]], cdbsreh.c's
  * contract).
  */
object FixedWidth {

  /** Lifetime contract (r18 advice): `good` reads a per-invocation
    * localCheckpoint spool that the per-query Harness.hygiene
    * unpersists after the invoking query — consume it within that
    * query; a caller holding `good` past the unpersist would see
    * checkpoint-block-not-found. */
  final case class ParseResult(good: DataFrame, nGood: Long, nBad: Long)

  /** The substring slice for column `i` of the spec (1-based SQL pos). */
  private def slices(fw: FixedWidthDef): Seq[(String, String, Int, Int)] = {
    val starts = fw.cols.scanLeft(1) { case (pos, (_, _, w)) => pos + w }
    fw.cols.zip(starts).map { case ((n, t, w), start) => (n, t, start, w) }
  }

  /** Typed value expression for one field: slice, trim the blank
    * padding, convert. `try_cast` (not cast) so a bad value becomes a
    * per-ROW reject, not a job failure — sreh's whole point. */
  private def fieldExpr(name: String, tpe: String, start: Int, width: Int): Column = {
    val sliced = s"rtrim(substring(line, $start, $width))"
    val target = tpe.toUpperCase match {
      case "TEXT" | "VARCHAR" | "STRING" => return expr(sliced)
      case "INT" | "INTEGER" | "INT4" => "INT"
      case "BIGINT" | "INT8" => "BIGINT"
      case "DOUBLE" | "FLOAT8" | "DOUBLE PRECISION" => "DOUBLE"
      case other => other
    }
    expr(s"try_cast($sliced AS $target)")
  }

  /** fixedwidth_out — render rows to fixed-width lines: each declared
    * column's string value padded with blanks to its width, a value
    * LONGER than its field erroring loudly (fixedwidth.c:307
    * STRING_DATA_LENGTH_MISMATCH — fixed layouts cannot truncate
    * silently). One codegen projection; columns taken in DDL order. */
  def format(df: DataFrame, fw: FixedWidthDef): DataFrame = {
    val parts = fw.cols.map { case (n, _, w) =>
      s"""IF(length(CAST($n AS STRING)) > $w,
            raise_error(concat(
              'The size of the value cannot be bigger than the field size: ',
              CAST($n AS STRING), ', field_size $w')),
            rpad(CAST($n AS STRING), $w, ' '))"""
    }
    df.selectExpr(s"concat(${parts.mkString(", ")}) AS line")
  }

  /** Parse a `line`-column DataFrame through the declared widths.
    * Rejects: short line (missing data) or any failed conversion of a
    * non-blank field. Enforces the DDL's reject limit. */
  def parse(lines: DataFrame, fw: FixedWidthDef): ParseResult = {
    val fields = slices(fw)
    val parsed = fields.foldLeft(
      lines.withColumn("_short", length(col("line")) < fw.totalWidth)) {
      case (df, (n, t, start, w)) =>
        df.withColumn(n, fieldExpr(n, t, start, w))
          .withColumn(s"_blank_$n",
            expr(s"rtrim(substring(line, $start, $w)) = ''"))
    }
    val badConv = fields.collect {
      case (n, t, _, _) if t.toUpperCase != "TEXT" =>
        col(n).isNull && !col(s"_blank_$n")
    }
    val isBad = badConv.foldLeft(col("_short"))(_ || _)
    // Materialize the parse ONCE (r18: the counts action below and the
    // caller's aggregate over `good` each re-ran the whole render+parse
    // lineage — two full passes per invocation; c15 idle 1.52 s vs a
    // 0.64 s exchange-floor bound). localCheckpoint is a per-invocation
    // spool (the q65 ShareInputScan discipline), not a session cache:
    // Harness.hygiene unpersists it after every query, so repeated
    // invocations (bench passes, the c16 round-trip) each pay exactly
    // one parse. Project to the declared columns + _bad first so the
    // spool holds typed fields, not the raw lines + helper flags.
    val flagged = parsed.withColumn("_bad", isBad)
      .select(fields.map(f => col(f._1)) :+ col("_bad"): _*)
      .localCheckpoint(true)
    val Row(nBadL: Long, nTotal: Long) = flagged
      .agg(coalesce(sum(col("_bad").cast("long")), lit(0L)), count(lit(1)))
      .head()
    val nBad = nBadL
    fw.rejectLimit.foreach { case (limit, isPercent) =>
      val over = if (isPercent) nBad * 100 > nTotal * limit else nBad > limit
      if (over) {
        // nothing downstream sees the spool on the throw path
        graft.Spool.release(flagged)
        throw new CsvSreh.RejectLimitExceeded(nBad, limit)
      }
    }
    val good = flagged.filter(!col("_bad"))
      .select(fields.map(f => col(f._1)): _*)
    ParseResult(good, nTotal - nBad, nBad)
  }
}
