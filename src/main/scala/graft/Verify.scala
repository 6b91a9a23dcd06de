package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * COMPARATOR INVARIANTS (the driver's check is shortest-repr bit-exact,
  * see scripts/check.py):
  *  - every DOUBLE column must be round()ed explicitly on BOTH sides or
  *    last-ulp cross-engine drift fails the hash;
  *  - DuckDB's sum(BIGINT) returns HUGEINT, which pandas renders as a
  *    float ("1.5e+07") while Spark emits an int — CAST(sum(...) AS
  *    BIGINT) in the oracle whenever the Spark side is integral
  *    (the b02/f06 lesson, r6);
  *  - ARRAY columns don't hash — emit array_join(...) strings or explode.
  */
object Verify {
  /** Dump each named query's result to `outDir/<name>` as parquet and
    * return the names that failed. The directory an earlier run left is
    * deleted first, so a failed query leaves no output for the compare
    * to hash as current. */
  def dump(spark: org.apache.spark.sql.SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): Seq[String] =
    names.filter { name =>
      val out = new java.io.File(outDir, name)
      Derived.delete(out)
      Harness.run(spark, sfDir, name, _.coalesce(1).write.parquet(out.getPath)).result.isLeft
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional: query names to restrict to (local iteration only; the
    // driver always runs the full set)
    val only = args.drop(2).toSet
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    val failed = dump(spark, sfDir, outDir,
      SparkEntry.queries.keys.toSeq.sorted.filter(n => only.isEmpty || only(n)))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
