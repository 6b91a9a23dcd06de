package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Derived, Tables}

/** Distribution metadata — `DISTRIBUTED BY` ≙ bucketed tables
  * (`src/include/catalog/gp_distribution_policy.h:86-111`, SURVEY §1.2,
  * build-plan step 4). Cloudberry hash-distributes every table on its
  * distribution key so equi-joins on that key run co-located with NO
  * motion; Spark's persisted analog is `bucketBy(n, key)`: both sides
  * pre-hashed into the same number of buckets, so the join plans with no
  * Exchange on either side (asserted in PlanShapeSpec with broadcast
  * disabled). At 100 TB this removes the two largest shuffles of the
  * canonical orders⋈lineitem join — the single biggest motion saving the
  * reference's distribution policies buy.
  */
object Bucketed {

  private val NumBuckets = 8

  /** Build-once per session: register orders/lineitem bucketed by their
    * join key (the session catalog is in-memory, so each JVM re-writes
    * into the shared warehouse directory — CREATE TABLE ... DISTRIBUTED
    * BY re-run per session). */
  def ensure(s: SparkSession, dir: String): (String, String) = {
    // GP's distribution is PHYSICAL — a table is always read through its
    // distribution layout. Spark's autoBucketedScan instead drops the
    // bucketed layout when the planner sees no exchange to elide, which
    // also forfeits bucket PRUNING on key-equality probes (b03's whole
    // point). Pin layout reads on while a b-family plan is built and
    // executed; because execution is lazy the restore can't live here —
    // every runner (Harness.hygiene, in every main and test fixture)
    // resets this conf to its default after each query, so a
    // b-query can't leak layout-pinning into later plans (r8 advice).
    s.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    def create(base: String, src: String, key: String): String =
      Derived.table(s, dir, base) { table =>
        // repartition on the bucket key with numPartitions == numBuckets:
        // Spark's repartition hash (Murmur3 pmod n) IS the bucket-id hash,
        // so each task holds exactly one bucket → ONE file per bucket.
        // That is what lets FileSourceScanExec report outputOrdering on
        // the sort key, and a downstream SortMergeJoin plan with ZERO
        // Sort nodes (PG's IncrementalSort exploits the same pre-sorted
        // layout; here the sort is elided entirely — b02 + PlanShapeSpec)
        Tables.df(s, dir, src)
          .repartition(NumBuckets, org.apache.spark.sql.functions.col(key))
          .write.mode("overwrite").bucketBy(NumBuckets, key)
          .sortBy(key).format("parquet").saveAsTable(table)
      }
    (create("orders_bucketed", "orders", "o_orderkey"),
      create("lineitem_bucketed", "lineitem", "l_orderkey"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- co-located join on the distribution key (no exchange) --
    "b01_bucketed_join" -> { (s, dir) =>
      val (ot, lt) = ensure(s, dir)
      val o = s.table(ot)
      val l = s.table(lt)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          expr("round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0, 2)").as("revenue"))
        .orderBy(col("o_orderpriority"))
    },

    // -- pre-sorted merge join (IncrementalSort counterpart, SURVEY §2.6:
    //    `nodeIncrementalSort.c` resorts only suffix keys of presorted
    //    input; the Spark-first rendition goes further — the bucketed
    //    layout is already sorted on the join key with one file per
    //    bucket, so the merge join plans with NO Exchange and NO Sort at
    //    all: the scan itself reports the ordering. PlanShapeSpec asserts
    //    zero SortExec with broadcast disabled) --
    "b02_presorted_merge_join" -> { (s, dir) =>
      val (ot, lt) = ensure(s, dir)
      s.table(lt).join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(
          countDistinct(col("o_orderkey")).as("n_orders"),
          count(lit(1)).as("n_items"),
          sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("total_qty"))
        .orderBy(col("o_orderstatus"))
    },

    // -- b03: BUCKET PRUNING — the point-lookup payoff of distribution
    //    keys: an equality/IN filter on the bucket key lets the scan
    //    read ONLY the buckets those keys hash to (reference analog:
    //    gp_segment direct dispatch, `cdbmutate.c` directDispatch —
    //    Cloudberry sends a distribution-key point query to the ONE
    //    segment that can hold it instead of broadcasting the scan).
    //    Spark's FileSourceScanExec reports SelectedBucketsCount; the
    //    plan assert pins pruned < total. At 100 TB this is the
    //    difference between reading 3/8 of the table and all of it --
    "b03_bucket_pruning" -> { (s, dir) =>
      val (ot, _) = ensure(s, dir)
      s.table(ot)
        .filter(col("o_orderkey").isin(7L, 1223L, 4999L))
        .select(col("o_orderkey"), col("o_orderstatus"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .orderBy(col("o_orderkey"))
    },

    // -- b04: EXCHANGE-FREE aggregation on the distribution key — the
    //    other half of DISTRIBUTED BY's payoff next to b01's co-located
    //    join: a GROUP BY on the bucket key is already hash-distributed
    //    by the storage layout, so the first (wide, per-order) aggregate
    //    runs with NO shuffle at all (FileSourceScanExec's
    //    outputPartitioning satisfies the aggregate's requirement —
    //    GP runs the same agg motion-free on the segments). Only the
    //    second, histogram-sized rollup exchanges. Plan-asserted: one
    //    Exchange total --
    "b04_bucketed_agg" -> { (s, dir) =>
      val (_, lt) = ensure(s, dir)
      s.table(lt)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_lines"))
        .groupBy(col("n_lines"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("n_lines"))
    },

    // -- b05: JUMP CONSISTENT HASH — the reference's actual row→segment
    //    mapper (`cdbhash.c:530` jump_consistent_hash, reduced onto
    //    segments at `cdbhash.c:280`; Lamping & Veach's published
    //    algorithm) and the property gpexpand banks on: growing 16→24
    //    segments, a key remaps IFF its 24-way bucket is ≥ 16, so ONLY
    //    rows destined for the 8 NEW segments move and the surviving 16
    //    segments keep every row. The audit computes both placements
    //    per row in one codegen scan (graft.functions.JumpHash) and
    //    proves the invariant exactly: n_anomalies counts rows where
    //    (moved) ≠ (new segment ≥ 16) — pinned to 0 per segment. The
    //    oracle replays the identical LCG+jump recursion in a DuckDB
    //    recursive CTE over HUGEINTs (mod-2^64 arithmetic spelled out),
    //    so per-segment counts — not just the invariant — cross-check --
    "b05_jump_consistent_hash" -> { (s, dir) =>
      Tables.df(s, dir, "orders")
        .select(col("o_orderkey"),
          expr("jump_hash(o_orderkey, 16)").as("seg16"),
          expr("jump_hash(o_orderkey, 24)").as("seg24"))
        .groupBy(col("seg24").as("segment"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum((col("seg16") =!= col("seg24")).cast("long")).as("n_moved"),
          sum(((col("seg16") =!= col("seg24")) =!= (col("seg24") >= 16))
            .cast("long")).as("n_anomalies"))
        .orderBy(col("segment"))
    }
  )

  def oracle: Map[String, String] = Map(
    "b01_bucketed_join" -> """
      SELECT o_orderpriority, count(*) AS n_items,
        round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0, 2) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "b02_presorted_merge_join" -> """
      SELECT o_orderstatus,
        count(DISTINCT o_orderkey) AS n_orders,
        count(*) AS n_items,
        CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "b03_bucket_pruning" -> """
      SELECT o_orderkey, o_orderstatus,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey IN (7, 1223, 4999)
      ORDER BY o_orderkey""",

    "b04_bucketed_agg" -> """
      SELECT n_lines, count(*) AS n_orders
      FROM (SELECT l_orderkey, count(*) AS n_lines
            FROM lineitem GROUP BY l_orderkey) t
      GROUP BY n_lines ORDER BY n_lines""",

    // The identical Lamping-Veach recursion: 64-bit LCG emulated in
    // HUGEINT mod 2^64 (key>>33 is integer division by 2^33), the jump
    // computed with the same IEEE double expression shape as the C.
    "b05_jump_consistent_hash" -> """
      WITH RECURSIVE it AS (
        SELECT CAST(o_orderkey AS HUGEINT) AS key0, s.n,
               CAST(o_orderkey AS HUGEINT) AS key,
               CAST(-1 AS HUGEINT) AS b, CAST(0 AS HUGEINT) AS j
        FROM orders CROSS JOIN (SELECT UNNEST([16, 24]) AS n) s
        UNION ALL
        SELECT nk.key0, nk.n, nk.key, nk.b,
               CAST(floor(CAST(nk.b + 1 AS DOUBLE) *
                 (2147483648.0 / (CAST(nk.key // 8589934592 AS DOUBLE) + 1.0)))
                 AS HUGEINT) AS j
        FROM (
          SELECT key0, n,
                 ((key * 2862933555777941757 + 1) % 18446744073709551616) AS key,
                 j AS b
          FROM it WHERE j < n) nk),
      done AS (
        SELECT key0, n, CAST(b AS INT) AS seg FROM it WHERE j >= n),
      placed AS (
        SELECT d16.key0, d16.seg AS seg16, d24.seg AS seg24
        FROM done d16 JOIN done d24 ON d16.key0 = d24.key0
        WHERE d16.n = 16 AND d24.n = 24)
      SELECT seg24 AS segment,
        CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(CASE WHEN seg16 <> seg24 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
        CAST(sum(CASE WHEN (seg16 <> seg24) <> (seg24 >= 16) THEN 1 ELSE 0 END)
          AS BIGINT) AS n_anomalies
      FROM placed GROUP BY seg24 ORDER BY segment"""
  )
}
