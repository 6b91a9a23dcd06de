package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf1 test-data generator: scales the driver's sf0.1 tables 10× while
  * preserving their statistical SHAPE, so a scale-up sweep (Scaling.scala)
  * measures the ENGINE's growth curve, not an artifact of changed data
  * character. The design rule per table: each copy is a key-disjoint,
  * content-remapped replica —
  *  - keys shift by copy × keyspace → graphs (r06 co-purchase, r07/r02
  *    doc graphs) become 10 disjoint components of identical structure:
  *    triangles/cores/components grow exactly 10×, the correct null
  *    model for asserting near-linear engine scaling;
  *  - documents text gets a per-copy token-bijection (suffix tag):
  *    within-copy Jaccard/minhash/simhash relations are INVARIANT under
  *    a vocabulary bijection, so the planted near-dup structure repeats
  *    10×, while cross-copy similarity collapses — candidate pairs grow
  *    10×, not 100× (10 identical text copies would square the pair
  *    count and unfairly indict the engine);
  *  - embeddings rotate circularly by copy: within-copy dot products
  *    are exactly preserved (rotation is orthogonal), cross-copy
  *    geometry decorrelates;
  *  - part names caesar-shift per copy: er01's block-size distribution
  *    is translation-invariant, blocks grow 10× in count not size.
  * Copy 0 is verbatim sf0.1. region/nation/supplier stay as-is
  * (replicated dims; no swept query is bound by them).
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("testdata_sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Harness.session()

    def base(name: String): DataFrame = Tables.df(spark, src, name)
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scalegen] $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }
    def shifted(name: String, keyCols: Seq[String], extra: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame = {
      val b = base(name)
      val spans = keyCols.map { k =>
        // getAs[Number]: robust to INT-typed keys; fail loudly on empty
        val row = b.agg(max(col(k))).head
        require(!row.isNullAt(0), s"[scalegen] $name.$k: empty table or all-null key")
        k -> (row.getAs[Number](0).longValue + 1L)
      }.toMap
      (0 until copies).map { cp =>
        val shiftedKeys = keyCols.foldLeft(b) { (d, k) =>
          d.withColumn(k, col(k) + lit(cp.toLong * spans(k)))
        }
        extra(shiftedKeys, cp)
      }.reduce(_ unionAll _)
    }

    // passthrough dims
    Seq("region", "nation", "supplier").foreach(n => write(base(n), n))

    write(shifted("customer", Seq("c_custkey")), "customer")
    write(shifted("orders", Seq("o_orderkey", "o_custkey")), "orders")
    write(shifted("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    write(shifted("events", Seq("event_id", "user_id")), "events")

    // part: caesar-shift the name per copy (block sizes invariant)
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    write(shifted("part", Seq("p_partkey"), { (d, cp) =>
      val rot = alpha.drop(cp % 26) + alpha.take(cp % 26)
      if (cp == 0) d
      else d.withColumn("p_name", translate(lower(col("p_name")), alpha, rot))
    }), "part")

    // documents: per-copy token bijection; n_chars tracks the new text
    write(shifted("documents", Seq("doc_id"), { (d, cp) =>
      if (cp == 0) d
      else d
        .withColumn("text", expr(
          s"array_join(transform(split(text, ' '), w -> IF(w = '', w, concat(w, 'q$cp'))), ' ')"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }), "documents")

    // embeddings: circular rotation by copy (orthogonal → within-copy
    // dot products exactly preserved)
    write(shifted("embeddings", Seq("vec_id"), { (d, cp) =>
      val r = cp % 64
      if (r == 0) d
      else d.withColumn("embedding", expr(
        s"concat(slice(embedding, ${r + 1}, ${64 - r}), slice(embedding, 1, $r))"))
    }), "embeddings")

    spark.stop()
  }
}
