package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for sorted_intersect_count (r18 — the triangle
  * count's wedge-intersection kernel): its distinct-intersection count
  * over ascending arrays must equal `size(array_intersect(a, b))` for
  * every input the caller can produce, including duplicate runs (the
  * defensive case — r06's lists are sets), empty arrays, and null
  * INPUTS (null-safe like every BinaryExpression). Runs through SQL so
  * both the codegen and the interpreted paths compile.
  */
class SortedIntersectSpec extends AnyFunSuite {
  import SparkSuite._

  private def check(rows: Seq[(Array[Long], Array[Long])]): Unit = {
    val df = spark.createDataFrame(rows.map { case (a, b) =>
      (a.sorted.toSeq, b.sorted.toSeq)
    }).toDF("a", "b")
    df.createOrReplaceTempView("si_probe")
    val bad = spark.sql(
      """SELECT a, b,
           sorted_intersect_count(a, b) AS got,
           CAST(size(array_intersect(a, b)) AS BIGINT) AS want
         FROM si_probe
         WHERE sorted_intersect_count(a, b) <>
               CAST(size(array_intersect(a, b)) AS BIGINT)""").collect()
    assert(bad.isEmpty, s"mismatch rows: ${bad.take(3).mkString("; ")}")
  }

  test("random sorted arrays (with duplicate runs) match size(array_intersect)") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 400).map { _ =>
      def arr() = Array.fill(rnd.nextInt(12))(rnd.nextInt(10).toLong)
      (arr(), arr())
    }
    check(rows)
  }

  test("edge cases: empty, disjoint, identical, single") {
    check(Seq(
      (Array.empty[Long], Array.empty[Long]),
      (Array.empty[Long], Array(1L, 2L)),
      (Array(1L, 3L, 5L), Array(2L, 4L, 6L)),
      (Array(1L, 2L, 3L), Array(1L, 2L, 3L)),
      (Array(42L), Array(42L)),
      (Array(42L), Array(41L)),
      (Array(1L, 1L, 2L, 2L), Array(1L, 2L, 2L, 9L))))
  }

  test("null inputs are null-safe (expression contract)") {
    val r = spark.sql(
      "SELECT sorted_intersect_count(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS c").collect()
    assert(r.head.isNullAt(0))
  }
}
