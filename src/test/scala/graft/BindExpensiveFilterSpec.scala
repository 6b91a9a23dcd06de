package graft

import org.apache.spark.sql.DataFrame
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

  private def filterLines(df: DataFrame): Seq[String] = {
    df.collect()
    df.queryExecution.executedPlan.toString.linesIterator
      .filter(l => l.contains("Filter") || l.contains("DataFilters")).toSeq
  }

  private def occ(l: String, k: String): Int =
    l.split(java.util.regex.Pattern.quote(k), -1).length - 1

  test("the rule binds a twice-inlined tokenize chain to one evaluation") {
    graft.Tables.configure(spark) // installs the rule (idempotent)
    val df = slowSpelling(corpus)
    val lines = filterLines(df)
    assert(lines.nonEmpty)
    assert(lines.forall(l => occ(l, "split(") <= 1),
      s"chain must appear at most once per filter line:\n${lines.mkString("\n")}")
    assert(lines.exists(_.contains("exists(")),
      s"expected the exists binding in:\n${lines.mkString("\n")}")
  }

  test("bound and unbound plans return identical rows (incl. NULL/empty text)") {
    val bound = slowSpelling(corpus).collect().map(_.toSeq).sortBy(_.head.toString)
    val unbound = withoutRule {
      val df = slowSpelling(corpus)
      // sanity: without the rule the chain really is duplicated
      assert(filterLines(df).exists(l => occ(l, "split(") >= 2),
        "control plan must carry the duplicated chain")
      df.collect().map(_.toSeq).sortBy(_.head.toString)
    }
    assert(bound.toSeq == unbound.toSeq)
    assert(bound.map(_.head) sameElements Array(1L, 6L)) // 2/3 miss a term; 4/5 null-or-empty
  }

  test("cheap conjuncts stay outside the binding and keep pushing to the scan") {
    graft.Tables.configure(spark)
    val df = slowSpelling(corpus.filter(col("doc_id") > 1))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters:") && p.contains("GreaterThan(doc_id,1)"),
      s"cheap conjunct must still reach the scan:\n$p")
    assert(p.linesIterator.filter(l => l.contains("Filter"))
      .forall(l => occ(l, "split(") <= 1), s"binding must still apply:\n$p")
  }

  test("a single-occurrence expensive filter is left untouched") {
    graft.Tables.configure(spark)
    val df = corpus
      .withColumn("toks", expr(chain))
      .withColumn("tf_a", expr("size(filter(toks, x -> x = 'merge'))"))
      .filter(col("tf_a") > 0)
      .select(col("doc_id"), col("tf_a"))
    df.collect()
    val lines = filterLines(df)
    assert(lines.forall(l => !l.contains("exists(")),
      s"no binding expected for a single occurrence:\n${lines.mkString("\n")}")
    assert(df.collect().map(_.getLong(0)).sorted sameElements Array(1L, 3L, 6L))
  }

  test("a subquery conjunct referencing the repeat disables the rewrite (planning safety)") {
    graft.Tables.configure(spark)
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
    val lines = filterLines(df)
    assert(lines.forall(l => !l.contains("exists(")),
      s"the rewrite must not fire next to a subquery conjunct:\n${lines.mkString("\n")}")
  }

  test("a repeated CHEAP graft kernel does not tag as a derivation (r17 advice: no blanket)") {
    graft.Tables.configure(spark)
    graft.functions.PgFunctions.register(spark)
    // jump_hash is a graft.functions codegen kernel but NOT a text
    // derivation — under the old graft.functions.* blanket this filter
    // would have been wrapped into exists() for no per-row saving
    val df = corpus
      .filter(expr("jump_hash(doc_id, 8) >= 0 AND jump_hash(doc_id, 8) <= 7"))
      .select(col("doc_id"))
    df.collect()
    val lines = filterLines(df)
    assert(lines.forall(l => !l.contains("exists(")),
      s"cheap kernels must not bind:\n${lines.mkString("\n")}")
    assert(df.collect().length == 6)
  }

  test("two independent repeated chains bind as nested exists and stay correct") {
    graft.Tables.configure(spark)
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
