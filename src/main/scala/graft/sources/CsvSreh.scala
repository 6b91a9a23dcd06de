package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** COPY-style CSV ingestion with single-row error handling — the
  * reference's sreh layer (`src/backend/commands/copy.c:412-434`,
  * `src/backend/cdb/cdbsreh.c`): `LOG ERRORS SEGMENT REJECT LIMIT n
  * [ROWS|PERCENT]` loads good rows, diverts bad rows to an error table,
  * and aborts the load if rejects exceed the limit.
  *
  * Spark rendition: PERMISSIVE parse with a corrupt-record column —
  * malformed rows survive as diagnostics instead of failing the job —
  * plus a driver-side reject-limit check. Per-partition parsing, no
  * driver concentration: the only driver action is the two-value count.
  */
object CsvSreh {

  final case class LoadResult(good: DataFrame, bad: DataFrame,
                              nGood: Long, nBad: Long)

  class RejectLimitExceeded(val nBad: Long, val limit: Long)
    extends RuntimeException(
      s"segment reject limit $limit exceeded: $nBad rows rejected")

  /** Load CSV files tolerantly; throw [[RejectLimitExceeded]] if more
    * rows fail to parse than `rejectLimit` allows: `(n, false)` is
    * `SEGMENT REJECT LIMIT n ROWS`, `(n, true)` is `n PERCENT` of all
    * rows, `None` no limit. `ddlSchema` is the target schema WITHOUT the
    * corrupt column. The parse spools once; `good` and `bad` are filters
    * over the spool, and the throw path releases it. */
  def load(spark: SparkSession, paths: Seq[String], ddlSchema: String,
           rejectLimit: Option[(Long, Boolean)], delimiter: String = ",",
           header: Boolean = false): LoadResult = {
    val raw = spark.read
      .schema(ddlSchema + ", _corrupt STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .option("sep", delimiter)
      .option("header", header.toString)
      .csv(paths: _*)
      .localCheckpoint()
    val Row(nBad: Long, nAll: Long) = raw.agg(count(col("_corrupt")), count(lit(1))).head()
    rejectLimit.foreach { case (lim, isPercent) =>
      val limit = if (isPercent) nAll * lim / 100 else lim
      if (nBad > limit) {
        graft.Spool.release(raw)
        throw new RejectLimitExceeded(nBad, limit)
      }
    }
    LoadResult(raw.filter(col("_corrupt").isNull).drop("_corrupt"),
      raw.filter(col("_corrupt").isNotNull), nAll - nBad, nBad)
  }
}
