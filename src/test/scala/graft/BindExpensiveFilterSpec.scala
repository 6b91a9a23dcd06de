package graft

import org.apache.spark.sql.{DataFrame, sources}
import org.apache.spark.sql.catalyst.expressions.ArrayExists
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.rules.BindExpensiveFilterRule

/** BindExpensiveFilterRule — the engine-level single-binding rewrite
  * for the f09 substitution class. The spec writes the
  * natural-but-slow spelling DELIBERATELY (two derived columns off one
  * tokenize chain, filtered together) and asserts: the chain appears
  * once in the executed Filter (bound via exists), results are
  * bit-identical to the unbound plan including NULL-text rows, cheap
  * conjuncts still reach PushedFilters, and single-occurrence filters
  * are left untouched. */
class BindExpensiveFilterSpec extends AnyFunSuite with TempDirs {
  import SparkSuite._

  private val chain = "filter(split(lower(text), ' '), x -> x <> '')"

  // through parquet, NOT a LocalRelation — ConvertToLocalRelation
  // folds filters over local data at plan time and there would be no
  // runtime Filter to bind
  private lazy val corpusPath: String = {
    val s = spark; import s.implicits._
    val dir = tempDir("graft_bind").toString
    Seq(
      (1L, "merge vector merge"), (2L, "vector stream"),
      (3L, "merge"), (4L, null.asInstanceOf[String]),
      (5L, ""), (6L, "vector merge plan")
    ).toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/docs.parquet")
    s"$dir/docs.parquet"
  }

  private def corpus: DataFrame = spark.read.parquet(corpusPath)

  /** the anti-pattern: both tf columns inline `chain` in the pushed
    * filter after alias substitution */
  private def slowSpelling(df: DataFrame): DataFrame = df
    .withColumn("toks", expr(chain))
    .withColumn("tf_a", expr("size(filter(toks, x -> x = 'merge'))"))
    .withColumn("tf_b", expr("size(filter(toks, x -> x = 'vector'))"))
    .filter(col("tf_a") > 0 && col("tf_b") > 0)
    .select(col("doc_id"), col("tf_a"), col("tf_b"))

  private def withoutRule[T](body: => T): T = {
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      saved.filterNot(_ == BindExpensiveFilterRule)
    try body finally spark.experimental.extraOptimizations = saved
  }

  /** Some FilterExec binds its condition through exists(). */
  private def binds(s: Shape): Boolean =
    s.all[FilterExec].exists(_.condition.exists(_.isInstanceOf[ArrayExists]))

  /** KernelFilterSpec's predicate: no derivation kernel repeats inside
    * one filter condition or one scan's dataFilters. */
  private def noRepeat(s: Shape): Boolean = KernelFilterAudit.repeats(s.plan).isEmpty

  test("the rule binds a twice-inlined tokenize chain to one evaluation") {
    val s = shape(slowSpelling(corpus))
    assert(noRepeat(s), s"chain must appear at most once per filter:\n$s")
    assert(binds(s), s"expected the exists binding in:\n$s")
  }

  test("bound and unbound plans return identical rows (incl. NULL/empty text)") {
    val bound = slowSpelling(corpus).collect().map(_.toSeq).sortBy(_.head.toString)
    val unbound = withoutRule {
      val df = slowSpelling(corpus)
      // sanity: without the rule the chain really is duplicated
      val s = shape(df)
      assert(KernelFilterAudit.repeats(s.plan).exists(_._2 == "split"),
        s"control plan must carry the duplicated chain:\n$s")
      df.collect().map(_.toSeq).sortBy(_.head.toString)
    }
    assert(bound.toSeq == unbound.toSeq)
    assert(bound.map(_.head) sameElements Array(1L, 6L)) // 2/3 miss a term; 4/5 null-or-empty
  }

  test("cheap conjuncts stay outside the binding and keep pushing to the scan") {
    val s = shape(slowSpelling(corpus.filter(col("doc_id") > 1)))
    assert(s.pushed.contains(sources.GreaterThan("doc_id", 1L)),
      s"cheap conjunct must still reach the scan:\n$s")
    assert(noRepeat(s), s"binding must still apply:\n$s")
  }

  test("a single-occurrence expensive filter is left untouched") {
    val df = corpus
      .withColumn("toks", expr(chain))
      .withColumn("tf_a", expr("size(filter(toks, x -> x = 'merge'))"))
      .filter(col("tf_a") > 0)
      .select(col("doc_id"), col("tf_a"))
    val s = shape(df)
    assert(!binds(s), s"no binding expected for a single occurrence:\n$s")
    assert(df.collect().map(_.getLong(0)).sorted sameElements Array(1L, 3L, 6L))
  }

  test("a subquery conjunct referencing the repeat disables the rewrite (planning safety)") {
    corpus.createOrReplaceTempView("bind_corpus")
    // the third conjunct carries BOTH the inlined chain (via tf_a) and a
    // scalar subquery — binding would trap the SubqueryExpression inside
    // a lambda body, where physical planning cannot inject its result;
    // the rule must leave the whole filter alone
    val df = spark.sql(
      """SELECT doc_id FROM (
           SELECT doc_id,
             size(filter(filter(split(lower(text), ' '), x -> x <> ''),
                  x -> x = 'merge')) AS tf_a,
             size(filter(filter(split(lower(text), ' '), x -> x <> ''),
                  x -> x = 'vector')) AS tf_b
           FROM bind_corpus) t
         WHERE tf_a > 0 AND tf_b > 0
           AND tf_a >= (SELECT min(doc_id) FROM bind_corpus)""")
    val rows = df.collect().map(_.getLong(0)).sorted
    assert(rows sameElements Array(1L, 6L))
    val s = shape(df)
    assert(!binds(s), s"the rewrite must not fire next to a subquery conjunct:\n$s")
  }

  test("a repeated CHEAP graft kernel does not tag as a derivation (r17 advice: no blanket)") {
    // jump_hash is a graft.functions codegen kernel but NOT a text
    // derivation — under the old graft.functions.* blanket this filter
    // would have been wrapped into exists() for no per-row saving
    val df = corpus
      .filter(expr("jump_hash(doc_id, 8) >= 0 AND jump_hash(doc_id, 8) <= 7"))
      .select(col("doc_id"))
    val s = shape(df)
    assert(!binds(s), s"cheap kernels must not bind:\n$s")
    assert(df.collect().length == 6)
  }

  test("two independent repeated chains bind as nested exists and stay correct") {
    val df = corpus
      .withColumn("toks", expr(chain))
      .withColumn("sents", expr("split(text, 'e')")) // a second, distinct derivation
      .withColumn("tf_a", expr("size(filter(toks, x -> x = 'merge'))"))
      .withColumn("tf_b", expr("size(filter(toks, x -> x = 'vector'))"))
      .withColumn("sa", expr("size(filter(sents, x -> x != ''))"))
      .withColumn("sb", expr("size(filter(sents, x -> length(x) > 1))"))
      .filter(col("tf_a") > 0 && col("tf_b") > 0 && col("sa") > 1 && col("sb") > 0)
      .select(col("doc_id"))
    val got = df.collect().map(_.getLong(0)).sorted
    val want = withoutRule {
      slowSpelling(corpus) // rebuild fully unbound
      corpus
        .withColumn("toks", expr(chain))
        .withColumn("sents", expr("split(text, 'e')"))
        .withColumn("tf_a", expr("size(filter(toks, x -> x = 'merge'))"))
        .withColumn("tf_b", expr("size(filter(toks, x -> x = 'vector'))"))
        .withColumn("sa", expr("size(filter(sents, x -> x != ''))"))
        .withColumn("sb", expr("size(filter(sents, x -> length(x) > 1))"))
        .filter(col("tf_a") > 0 && col("tf_b") > 0 && col("sa") > 1 && col("sb") > 0)
        .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    }
    assert(got sameElements want)
  }
}
