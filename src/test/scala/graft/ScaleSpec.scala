package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.ZOrder
import graft.operators.SkewUtils

/** Scale-machinery specs: Z-order clustering, salted skew joins, and
  * stateful streaming sessionization (the operators whose value only
  * shows at 100 TB, tested here for correctness of the machinery). */
class ScaleSpec extends AnyFunSuite with TempDirs {
  import SparkSuite._

  test("z-order interleave: reference values and engine agreement") {
    // x=3 (011) into odd bit positions, y=5 (101) into even ones -> 27
    assert(ZOrder.interleave(3, 5, 8) == 27L)
    assert(ZOrder.interleave(0, 0, 8) == 0L)
    assert(ZOrder.interleave(255, 255, 8) == 65535L)
    val row = spark.sql(
      s"SELECT ${ZOrder.interleaveExpr("3", "5", 8)} AS z").head
    assert(row.getLong(0) == 27L)
  }

  test("z-order clustered write: files cover disjoint compact z-ranges") {
    val path = tempDir("graft_z").toString + "/parts"
    ZOrder.clusteredWrite(
      Tables.df(spark, Sf, "part").select(col("p_partkey"), col("p_size")),
      "p_partkey % 256", "p_size % 256", 8, path, numFiles = 4)
    val back = spark.read.parquet(path)
      .withColumn("z", expr(ZOrder.interleaveExpr("p_partkey % 256", "p_size % 256", 8)))
      .withColumn("f", col("_metadata.file_path"))
    // range-partitioned by z: per-file z-ranges must not overlap
    val ranges = back.groupBy("f")
      .agg(min("z").as("lo"), max("z").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2,
        s"overlapping z-ranges: $ranges")
      case _ =>
    }
    assert(back.count() == Tables.df(spark, Sf, "part").count())
  }

  test("d05 band candidates stay linear on a 1,000-copy boilerplate cluster") {
    import spark.implicits._
    // 1,000 identical simhashes (one hot hi bucket AND one hot lo bucket —
    // the dominant web-crawl failure mode), a 10-doc bucket that exercises
    // the all-pairs branch, and isolated singletons.
    val hotSim = 0xABC123L                       // hi=0xABC, lo=0x123
    val midSim = 0x555AAAL
    val rows =
      (1L to 1000L).map(i => (i, hotSim)) ++
      (2001L to 2010L).map(i => (i, midSim)) ++
      (3001L to 3010L).map(i => (i, 0x700000L + i * 4096L + i)) // unique bands
    val sim = rows.toDF("doc_id", "simhash")
      .withColumn("hi_band", expr("simhash div 4096"))
      .withColumn("lo_band", expr("simhash % 4096"))
    val cands = operators.Dedup.bandCandidates(sim)
    val n = cands.count()
    val docs = rows.size
    // star emission bounds the hot cluster at k-1 per band (lo pairs are
    // filtered by the hi-differs disjointness rule), mid bucket at C(10,2)
    assert(n <= 2L * docs, s"candidate blowup: $n pairs for $docs docs")
    assert(n == 999L + 45L, s"expected 999 star + 45 all-pairs, got $n")
    // recall survives the cap: every hot-cluster member still reaches the
    // hub, so the d05 keeper assignment dedups the whole cluster
    assert(cands.filter(col("a_id") === 1L).count() == 999L)
  }

  test("m05 phash pairs stay linear on a 1,000-copy identical-image cluster") {
    import spark.implicits._
    // 1,000 identical phashes (re-uploaded image spam — every band
    // collides), a 10-doc bucket on the all-pairs branch, singletons.
    val rows =
      (1L to 1000L).map(i => (i, 0x123456789ABCL)) ++
      (2001L to 2010L).map(i => (i, 0x555AAA555AAAL)) ++
      (3001L to 3010L).map(i => (i, i * 0x100010001L)) // distinct in all 3 bands
    val ph = rows.toDF("doc_id", "phash")
    val pairs = operators.Multimodal.phashPairs(ph)
    val n = pairs.count()
    // star emission: hot cluster ≤ (k-1) per band (3 bands), mid bucket
    // 3·C(10,2); NEVER 3·C(1000,2)
    assert(n <= 3L * 999L + 3L * 45L, s"candidate blowup: $n pairs")
    // recall survives: every hot member still pairs with the hub
    assert(pairs.filter(col("a_id") === 1L).select("b_id").distinct().count() == 999L)
  }

  test("d03 minhash band pairs stay linear on a 1,000-copy boilerplate cluster") {
    import spark.implicits._
    // 1,000 docs colliding in ALL 4 bands (identical minhash signatures —
    // the r5-verdict scale-killer: the old self-join emitted 4·k²/2 pairs
    // here), one 10-doc bucket exercising the all-pairs branch, and
    // isolated singletons.
    val rows =
      (for (i <- 1L to 1000L; b <- 0 to 3) yield (i, b, s"hot$b")) ++
      (2001L to 2010L).map(i => (i, 0, "mid")) ++
      (for (i <- 3001L to 3010L; b <- 0 to 3) yield (i, b, s"solo${i}_$b"))
    val bands = rows.toDF("doc_id", "band", "band_key")
    val pairs = operators.Dedup.minhashPairs(bands)
    val n = pairs.count()
    val docs = 1020L
    assert(n <= 2L * docs, s"candidate blowup: $n pairs for $docs docs")
    // 4 bands each emit the same 999 star pairs (hub = doc 1) → distinct
    // collapses them; the mid bucket contributes C(10,2)
    assert(n == 999L + 45L, s"expected 999 star + 45 all-pairs, got $n")
    // recall survives the cap: every hot-cluster member still reaches the
    // hub, so transitive clustering reconnects the whole cluster
    assert(pairs.filter(col("a_id") === 1L).count() == 999L)
  }

  test("d05 widens to a 48-bit simhash with 24-bit bands (same plan, finer buckets)") {
    import org.apache.spark.sql.functions.{col, expr}
    val sim48 = operators.Dedup.simhashDf(spark, Sf, bits = 48).localCheckpoint()
    // band arithmetic is consistent at the wider layout
    assert(sim48.filter(expr(s"hi_band * ${1L << 24} + lo_band <> simhash")).count() == 0)
    assert(sim48.filter(col("simhash") < 0 || col("simhash") >= (1L << 48)).count() == 0)
    // wider bands partition the corpus at least as finely as 24/12
    val sim24 = operators.Dedup.simhashDf(spark, Sf).localCheckpoint()
    val buckets48 = sim48.select("hi_band").distinct().count()
    val buckets24 = sim24.select("hi_band").distinct().count()
    assert(buckets48 >= buckets24, s"48-bit bands coarser than 24-bit: $buckets48 < $buckets24")
    // the full capped candidate pipeline runs unchanged at the wider width
    val cands = operators.Dedup.bandCandidates(sim48, bandBits = 24)
      .filter(expr("bit_count(a_sim ^ b_sim) <= 6"))
    val n = cands.count()
    assert(n <= sim48.count() * operators.Dedup.BandBucketCap,
      s"candidate bound violated at 48 bits: $n")
  }

  test("s03 embedding candidates stay linear on a degenerate hot bucket") {
    import spark.implicits._
    val hotVec = Seq(1.0f, 0.0f, 0.0f)
    val rows =
      (1L to 1000L).map(i => (i, hotVec, 7L)) ++                 // hot bucket
      (2001L to 2005L).map(i => (i, Seq(0.0f, 1.0f, i.toFloat), 9L)) // small bucket
    val bucketed = rows.toDF("vec_id", "embedding", "bucket")
    val cands = operators.Similarity.embeddingCandidates(bucketed)
    val n = cands.count()
    assert(n <= 2L * rows.size, s"candidate blowup: $n pairs for ${rows.size} vectors")
    assert(n == 999L + 10L, s"expected 999 star + C(5,2) all-pairs, got $n")
    // the star pairs carry the real embeddings, so cosine-verify still
    // confirms the duplicates (cosine = 1.0 for identical vectors)
    val verified = cands.filter(expr(
      """aggregate(zip_with(q_emb, c_emb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (a, x) -> a + x)
         / (sqrt(aggregate(q_emb, 0D, (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
          * sqrt(aggregate(c_emb, 0D, (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) >= 0.95"""))
    assert(verified.filter(col("b_id") <= 1000L).count() == 999L)
  }

  test("AQE skew-join splits the hot partition (skew=true in the final plan)") {
    // The runtime complement to SkewUtils' explicit salting: with
    // adaptive skew-join handling on, a sort-merge join whose probe
    // side piles onto one key must be re-planned with the skewed
    // partition split — the executed plan marks the join skew=true.
    // Thresholds are shrunk so the sf-independent synthetic skew (one
    // key carrying 200k of 201k rows) trips the same code path a 100 TB
    // hot key would.
    import spark.implicits._
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = spark.range(0, 201000)
        .select(when(col("id") < 200000, 7L).otherwise(col("id") % 100).as("k"),
          col("id").as("payload"))
      val right = spark.range(0, 100).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = left.join(right, Seq("k"))
      val n = joined.collect().length // run THIS plan to its final adaptive form
      assert(n == 201000, s"join row count $n")
      val plan = joined.queryExecution.executedPlan
      assert(PlanDump.nodes(plan).exists {
        case j: org.apache.spark.sql.execution.joins.ShuffledJoin => j.isSkewJoin
        case _ => false
      }, s"no skew-join split in plan:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("salted join equals the unsalted join exactly (multiset)") {
    val li = Tables.df(spark, Sf, "lineitem")
      .select(col("l_orderkey").as("k"), col("l_quantity"))
    val o = Tables.df(spark, Sf, "orders")
      .select(col("o_orderkey").as("k"), col("o_totalprice"))
    val plain = li.join(o, Seq("k"))
    val salted = SkewUtils.saltedJoin(li, o, "k", salts = 7)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("salted left join preserves unmatched left rows") {
    import spark.implicits._
    val l = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    val r = Seq((1, "x")).toDF("k", "w")
    val res = SkewUtils.saltedJoin(l, r, "k", salts = 4, joinType = "left_outer")
    assert(res.count() == 3)
    assert(res.filter(col("w").isNull).count() == 2)
  }

  test("stateful streaming sessionization matches the batch gap logic") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
    import spark.implicits._
    val landing = tempDir("graft_sess")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$Sf/events.parquet"),
      landing.resolve("batch0.parquet"))
    val schema = spark.read.parquet(s"$Sf/events.parquet").schema
    // KeyValueGroupedDataset + flatMapGroupsWithState: custom session
    // state per user (GP TableFunction/SRF analog with state)
    val sessions = spark.readStream.schema(schema).parquet(landing.toString)
      .transform(Tables.withNormalizedTs)
      .select(col("user_id").as[Long], unix_millis(col("ts")).as[Long], col("event_id").as[Long])
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, events: Iterator[(Long, Long, Long)], state: GroupState[(Long, Long)]) =>
          val sorted = events.toSeq.sortBy(e => (e._2, e._3))
          var nSessions = 0L
          var prev = Long.MinValue
          sorted.foreach { e =>
            if (prev == Long.MinValue || e._2 - prev > 30L * 60 * 1000) nSessions += 1
            prev = e._2
          }
          Iterator.single((user, nSessions, sorted.size.toLong))
      }
      .toDF("user_id", "n_sessions", "n_events")
    val q = sessions.writeStream.format("memory").queryName("sess_state")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(!q.isActive)
    val streamed = spark.table("sess_state")
    val batch = SparkEntry.queries("e02_sessionize")(spark, Sf)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "stateful streaming sessionization diverged from batch e02")
  }

  test("r04 pagerank conserves total rank on a 100k-node graph (floor-loss bounded)") {
    // With damping 0.85 and no dangling nodes, Σrank is invariant:
    // Σ' = 0.15·N·10⁶ + 0.85·Σ. Integer floors lose < 10 micro-units
    // per node per iteration, so after 2 iterations on ANY node count
    // the total sits in [N·10⁶ − 20N, N·10⁶]. A shape bug (lost
    // in-degree-0 nodes, double-counted multi-edges) breaks this by
    // orders of magnitude.
    import operators.Recursive._
    val docs = spark.range(100000L).select(col("id").as("doc_id"))
    val edges = pagerankEdges(docs, 100000L)
    var ranks = docs.select(col("doc_id"), lit(1000000L).as("r"))
    for (_ <- 1 to 2) ranks = pagerankStep(docs, edges, ranks)
    val row = ranks.agg(sum("r"), count(lit(1))).head
    val (tot, n) = (row.getLong(0), row.getLong(1))
    assert(n == 100000L, "every node keeps exactly one rank row")
    assert(tot <= 100000L * 1000000L && tot >= 100000L * 1000000L - 20L * 100000L,
      s"rank mass must be conserved modulo floor loss, got $tot")
  }

  test("ch02 packing placement is exact on a 200k-doc corpus (closed form)") {
    import spark.implicits._
    // constant tok=7, cap=100: doc k of a source (0-based rank) starts at
    // 7k, so seq_first = 7k div 100 — checkable in closed form without
    // ever materializing a corpus-wide window. 200k docs across 3
    // sources exercise many (source, bucket) groups (width 1024) and a
    // multi-thousand-row bucket-subtotal prefix relation.
    val n = 200000L
    val docs = spark.range(n).select(
      col("id").as("doc_id"),
      concat(lit("s"), pmod(col("id"), lit(3))).as("source"),
      lit(7L).as("tok"))
    val placed = graft.operators.Chunking.packedPlacement(docs, cap = 100L, bktWidth = 1024L)
      .withColumn("rank", expr("doc_id div 3")) // per-source 0-based rank
    val bad = placed.filter(
      col("start") =!= col("rank") * 7L ||
      col("seq_first") =!= expr("(rank * 7) div 100") ||
      col("seq_last") =!= expr("(rank * 7 + 6) div 100"))
    assert(bad.count() == 0, "two-phase placement diverged from the closed form")
    assert(placed.count() == n)
  }

  test("r06 orientation bounds wedge enumeration on a hub-and-spoke graph") {
    // A star K_{1,400} + one closing edge: the hub has degree 400, so an
    // UNORIENTED wedge join would enumerate C(400,2) ≈ 80k hub wedges.
    // Degree orientation points every spoke edge INTO the hub (spoke
    // degree 1 < 400), so oriented out-degree ≤ 1 for spokes and ≤ 1
    // for the hub — wedges collapse to the closing triangle's and the
    // count stays exact. This is the O(√m)-out-degree property that
    // makes r06 survive hot nodes at 100 TB.
    import spark.implicits._
    val n = 400
    val spokes = (1 to n).map(i => (0L, i.toLong))
    val closing = Seq((1L, 2L)) // triangle {0,1,2}
    val edges = (spokes ++ closing).toDF("u", "v")
    edges.createOrReplaceTempView("r06_scale_edges")
    val res = spark.sql("""
      WITH deg AS (
        SELECT node, count(*) AS d FROM (
          SELECT u AS node FROM r06_scale_edges
          UNION ALL SELECT v AS node FROM r06_scale_edges) t GROUP BY node),
      oe AS (
        SELECT e.u AS s, e.v AS t FROM r06_scale_edges e
          JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
          WHERE du.d <= dv.d
        UNION ALL
        SELECT e.v AS s, e.u AS t FROM r06_scale_edges e
          JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
          WHERE du.d > dv.d),
      wedges AS (
        SELECT e1.s AS a, e1.t AS b, e2.t AS c
        FROM oe e1 JOIN oe e2 ON e1.t = e2.s),
      tri AS (
        SELECT count(*) AS n_tri FROM wedges w
          JOIN oe e3 ON e3.s = w.a AND e3.t = w.c)
      SELECT (SELECT count(*) FROM wedges) AS n_wedges, n_tri FROM tri""").head
    val (nWedges, nTri) = (res.getLong(0), res.getLong(1))
    assert(nTri == 1L, s"star + closing edge has exactly one triangle, got $nTri")
    assert(nWedges < 1000L,
      s"oriented wedge count must stay linear on the hub (got $nWedges; unoriented would be ~${n * (n - 1) / 2})")
  }

  test("r06 adjacency-intersect completes with broadcast disabled (shuffle-join path)") {
    // The 100 TB degradation path: when the adjacency relation exceeds
    // the broadcast threshold, r06's joins must run as shuffle joins.
    // Force that world with autoBroadcastJoinThreshold=-1 on a graph
    // with a closed-form answer: 300 disjoint copies of K_8 (28 edges,
    // C(8,3)=56 triangles each → 8,400 edges / 16,800 triangles).
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val edges = (0 until 300).flatMap { c =>
        val base = c.toLong * 8
        for (i <- 0 until 8; j <- i + 1 until 8) yield (base + i, base + j)
      }.toDF("u", "v")
      edges.createOrReplaceTempView("r06_big_edges")
      val res = spark.sql("""
        WITH deg AS (
          SELECT node, count(*) AS d FROM (
            SELECT u AS node FROM r06_big_edges
            UNION ALL SELECT v AS node FROM r06_big_edges) t GROUP BY node),
        oe AS (
          SELECT e.u AS s, e.v AS t FROM r06_big_edges e
            JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
            WHERE du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
          UNION ALL
          SELECT e.v AS s, e.u AS t FROM r06_big_edges e
            JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
            WHERE dv.d < du.d OR (du.d = dv.d AND e.v < e.u)),
        adj AS (
          SELECT s, sort_array(collect_list(t)) AS nbrs FROM oe GROUP BY s)
        SELECT coalesce(sum(size(array_intersect(na.nbrs, nb.nbrs))), 0) AS n_tri
        FROM oe
        JOIN adj na ON oe.s = na.s
        JOIN adj nb ON oe.t = nb.s""").head.getLong(0)
      assert(res == 300L * 56, s"expected 16800 triangles, got $res")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("r06 intersect form returns 0, not NULL, on an empty oriented edge set") {
    // ADVICE r7: sum(size(array_intersect(...))) over zero join rows is
    // NULL; the query must coalesce to preserve count(*)'s 0-on-empty.
    import spark.implicits._
    Seq.empty[(Long, Long)].toDF("u", "v").createOrReplaceTempView("r06_empty_edges")
    val res = spark.sql("""
      WITH oe AS (SELECT u AS s, v AS t FROM r06_empty_edges),
      adj AS (SELECT s, collect_list(t) AS nbrs FROM oe GROUP BY s)
      SELECT coalesce(sum(size(array_intersect(na.nbrs, nb.nbrs))), 0) AS n_tri
      FROM oe JOIN adj na ON oe.s = na.s JOIN adj nb ON oe.t = nb.s""").head.getLong(0)
    assert(res == 0L)
  }

  test("e14 banding emits bounded bucket fan-out and exactly-once pairs") {
    // Every interval explodes to the day buckets it covers; the band
    // join then equi-joins on the bucket and keeps a pair only in the
    // greatest(a_lo, b_lo) bucket. On intervals spanning bucket
    // boundaries the pair appears in BOTH shared buckets pre-filter —
    // the filter must collapse it to exactly one. Cross-midnight
    // windows are the canonical trap.
    import spark.implicits._
    val day = 86400000L
    // a: [day-1h, day+1h] spans buckets 0 and 1; b: [day-30m, day+30m]
    // also spans both; they overlap — naive band join would count twice
    val a = Seq((1L, day - 3600000L, day + 3600000L)).toDF("id_a", "a_lo", "a_hi")
    val b = Seq((2L, day - 1800000L, day + 1800000L)).toDF("id_b", "b_lo", "b_hi")
    val aB = a.withColumn("bkt", explode(expr("sequence(a_lo div 86400000, a_hi div 86400000)")))
    val bB = b.withColumn("bkt", explode(expr("sequence(b_lo div 86400000, b_hi div 86400000)")))
    val joined = aB.join(bB, Seq("bkt"))
      .filter(col("a_lo") <= col("b_hi") && col("b_lo") <= col("a_hi"))
    assert(joined.count() == 2L, "pair must appear in both shared buckets pre-filter")
    val once = joined.filter(col("bkt") === expr("greatest(a_lo, b_lo) div 86400000"))
    assert(once.count() == 1L, "greatest-start bucket filter must keep the pair exactly once")
  }

  test("d12 line dedup: 1000-doc hot line removed everywhere, rebuild partition-invariant") {
    // d12's pipeline (segment → md5 census ≥2 docs → filter → per-doc
    // array_sort rebuild) on a corpus where ONE 3-token line repeats in
    // every doc. The census must kill exactly that line in all 1000
    // docs, keep each doc's unique tail, and — because the rebuild
    // orders by line_no inside the aggregate, not by arrival — produce
    // byte-identical output under different input partitionings.
    import spark.implicits._
    def run(docs: org.apache.spark.sql.DataFrame) = {
      val lines = docs
        .withColumn("toks", expr("filter(split(text, ' '), x -> x <> '')"))
        .select(col("doc_id"), col("toks"), explode(expr(
          "sequence(0, CAST(greatest(size(toks) - 1, 0) DIV 3 AS INT))")).as("line_no"))
        .withColumn("line", expr("slice(toks, line_no * 3 + 1, 3)"))
        .filter(size(col("line")) > 0)
        .withColumn("lh", md5(concat_ws(" ", col("line"))))
        .select(col("doc_id"), col("line_no"), col("line"), col("lh"))
      val boiler = lines.groupBy(col("lh"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2).select(col("lh"), lit(1).as("is_boiler"))
      lines.join(boiler, Seq("lh"), "left")
        .groupBy(col("doc_id"))
        .agg(expr("""concat_ws(' ', flatten(transform(
               array_sort(collect_list(CASE WHEN is_boiler IS NULL
                 THEN struct(line_no, line) END)), e -> e.line)))""").as("kept"))
    }
    val docs = (0 until 1000).map(i =>
      (i.toLong, s"dup dup dup u${i}a u${i}b u${i}c")).toDF("doc_id", "text")
    val out7 = run(docs.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val out3 = run(docs.repartition(3)).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(out7.length == 1000)
    out7.foreach { case (id, kept) =>
      assert(kept == s"u${id}a u${id}b u${id}c",
        s"doc $id must lose only the hot line, got '$kept'") }
    assert(out7.toSeq == out3.toSeq, "rebuild must not depend on partitioning")
  }
}
