package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** Every branch of the derived-data lifecycle: a complete, fresh output
  * is reused untouched; one without `_SUCCESS` or built from other
  * source rows is rebuilt; a managed location the catalog does not know
  * is cleared before the CREATE; the delete takes missing paths, plain
  * files and trees, and does not follow symlinks.
  */
class DerivedSpec extends AnyFunSuite {
  import SparkSuite._
  import spark.implicits._

  /** A fresh SF dir at `Derived.path("test", name)` with an orders table. */
  private def corpus(name: String, dates: String*): String = {
    val dir = Derived.path("test", name)
    Seq(new File(dir), new File(Derived.Root, Derived.tag(dir))).foreach(Derived.delete)
    writeOrders(dir, dates: _*)
    dir
  }

  private def writeOrders(dir: String, dates: String*): Unit =
    dates.zipWithIndex.map { case (d, i) => (i.toLong, java.sql.Date.valueOf(d)) }
      .toDF("o_orderkey", "o_orderdate").write.mode("overwrite").parquet(s"$dir/orders.parquet")

  test("a complete, fresh output is reused untouched; one without _SUCCESS is rebuilt") {
    val dir = corpus("derived_once", "1997-01-02", "1997-02-03")
    var writes = 0
    def build() = new File(Derived.once(dir, "out", "orders") { p =>
      writes += 1
      Tables.df(spark, dir, "orders").write.mode("overwrite").parquet(p)
    })
    val out = build()
    def listing = out.listFiles().map(f => (f.getName, f.lastModified)).toSet
    val before = listing
    assert(build() == out && writes == 1, "a complete, fresh output was rebuilt")
    assert(listing == before, "the second call touched the output")
    // what a crashed write leaves: files without _SUCCESS
    assert(new File(out, "_SUCCESS").delete())
    build()
    assert(writes == 2 && new File(out, "_SUCCESS").exists, "an incomplete output was served")
  }

  test("build-once tables follow a corpus rewritten in place") {
    // ScaleGen rewrites a corpus in place; a _SUCCESS-only check then
    // served the previous corpus's derived tables
    val dir = corpus("derived_rewrite", "1997-01-02", "1997-02-03")
    def parts(names: String*): Unit =
      names.zipWithIndex.map { case (n, i) => (i * 10L + 1, n) }.toDF("p_partkey", "p_name")
        .write.mode("overwrite").parquet(s"$dir/part.parquet")
    def months() = operators.Partitioned.ordersByMonth(spark, dir)
      .select("o_month").as[String].collect().toSet
    def census() = spark.read.parquet(operators.EntityResolution.ensureBaseState(spark, dir)._1)
      .select("name").as[String].collect().toSet
    try {
      parts("Alpha Bolt", "Alpha Bolts", "Beta Nut")
      assert(months() == Set("1997-01", "1997-02"))
      assert(census() == Set("alpha bolt", "alpha bolts", "beta nut"))
      writeOrders(dir, "1998-05-06", "1998-05-07", "1998-07-08")
      parts("Gamma Gear", "Gamma Gears", "Delta Pin")
      assert(months() == Set("1998-05", "1998-07"), "orders_by_month serves the old corpus")
      assert(census() == Set("gamma gear", "gamma gears", "delta pin"),
        "er02's base census serves the old corpus")
    } finally Harness.hygiene(spark)
  }

  test("a managed location the catalog does not know is cleared and the table recreated") {
    val name = Derived.tableName("derived_stale", "derived_spec")
    spark.sql(s"DROP TABLE IF EXISTS $name")
    // what an earlier JVM leaves: the files, without the in-memory catalog entry
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    val junk = new File(new File(wh, name), "part-from-an-earlier-jvm.parquet")
    junk.getParentFile.mkdirs(); junk.createNewFile()
    var creates = 0
    def build() = Derived.table(spark, "derived_spec", "derived_stale") { t =>
      creates += 1
      Seq(1, 2, 3).toDF("x").write.format("parquet").saveAsTable(t)
    }
    try {
      assert(build() == name && !junk.exists, "the stale location was not cleared")
      assert(spark.table(name).count() == 3)
      build()
      assert(creates == 1, "a table the catalog knows was re-created")
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("delete takes a missing path, a plain file, a tree, and does not follow symlinks") {
    val root = new File(Derived.path("test", "derived_delete"))
    Derived.delete(root)
    Derived.delete(new File(root, "missing"))
    val (file, kept, tree) = (new File(root, "plain.txt"), new File(root, "kept/a.txt"), new File(root, "tree"))
    Seq(kept.getParentFile, new File(tree, "x/y")).foreach(_.mkdirs())
    Seq(file, kept, new File(tree, "x/y/b.txt")).foreach(_.createNewFile())
    java.nio.file.Files.createSymbolicLink(new File(tree, "link").toPath,
      kept.getParentFile.getAbsoluteFile.toPath)
    Derived.delete(file)
    assert(!file.exists && root.exists)
    Derived.delete(tree)
    assert(!tree.exists, "the tree survived")
    assert(kept.exists, "the delete followed a symlink")
    Derived.delete(root)
    assert(!root.exists)
  }
}
