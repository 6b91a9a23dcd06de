package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Derived, Tables}

/** Partitioned tables + dynamic partition pruning (DPP).
  *
  * Reference: GP's defining scan family — a partitioned table is scanned
  * through DynamicSeqScan with the surviving partitions computed at
  * runtime by a PartitionSelector on the join's other side
  * (`src/backend/executor/nodeDynamicSeqscan.c:1-315`,
  * `nodePartitionSelector.c:1-20`, exercised by
  * `src/test/regress/sql/partition_pruning.sql`). Spark's native analog
  * is hive-style directory partitioning + DynamicPruningExpression: the
  * dimension side's filter result is broadcast and used as a runtime IN
  * filter on the fact scan's partition column, so only surviving
  * directories are read.
  *
  * At 100 TB the fact table IS partitioned (by day/month) — this module
  * materializes that layout once per SF as [[Derived]] data (build-once,
  * rebuilt when the source tables change) and runs the canonical
  * star-join against it. Static pruning (p01) and dynamic pruning (p02)
  * both produce plans that read a fraction of the partitions; the
  * ScalaTest plan asserts pin DynamicPruningExpression presence.
  */
object Partitioned {

  /** Build-once: orders partitioned by month (hive-style directories).
    * o_month is a derived partition column, the GP
    * `PARTITION BY RANGE (o_orderdate) (START ... EVERY '1 month')`
    * translation (`src/backend/parser/gram.y:6610,6652`). */
  def ordersByMonth(s: SparkSession, sfDir: String): DataFrame =
    s.read.parquet(Derived.once(sfDir, "orders_by_month", "orders") { path =>
      Tables.df(s, sfDir, "orders")
        .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
        .write.mode("overwrite")
        .partitionBy("o_month")
        .parquet(path)
    })

  /** Build-once month dimension (parquet-backed so filters survive to the
    * physical plan and can seed DPP). */
  def monthDimTable(s: SparkSession, sfDir: String): DataFrame = {
    import s.implicits._
    s.read.parquet(Derived.once(sfDir, "month_dim") { path =>
      (1 to 12).map { m =>
        (f"1997-$m%02d", if (m >= 6 && m <= 8) "peak" else "offpeak")
      }.toDF("m_month", "season")
        .coalesce(1).write.mode("overwrite").parquet(path)
    })
  }

  /** Build-once: orders two-level partitioned — region LIST at level 1,
    * month RANGE at level 2 (hive directories nest in declaration order).
    * The GP grammar analog is `PARTITION BY LIST (region) SUBPARTITION BY
    * RANGE (o_orderdate)` (`src/backend/parser/gram.y:6610,6652`); the
    * region comes through customer→nation→region, denormalized into the
    * layout exactly like a distribution-key choice at 100 TB. */
  def ordersByRegionMonth(s: SparkSession, sfDir: String): DataFrame =
    s.read.parquet(Derived.once(sfDir, "orders_by_region_month",
        "orders", "customer", "nation", "region") { path =>
      Tables.df(s, sfDir, "orders")
        .join(Tables.df(s, sfDir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.df(s, sfDir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.df(s, sfDir, "region")), col("n_regionkey") === col("r_regionkey"))
        .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("r_name").as("o_region"), col("o_month"))
        .write.mode("overwrite")
        .partitionBy("o_region", "o_month")
        .parquet(path)
    })

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- static partition pruning: filter on the partition column --
    "p01_partition_pruning" -> { (s, dir) =>
      ordersByMonth(s, dir)
        .filter(col("o_month") >= "1997-01" && col("o_month") <= "1997-03")
        .groupBy(col("o_month"))
        .agg(count(lit(1)).as("n_orders"),
          expr("round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2)").as("total"))
        .orderBy(col("o_month"))
    },

    // -- dynamic partition pruning: surviving months come from a joined,
    //    filtered dimension at runtime (PartitionSelector ≙ DPP) --
    "p02_dynamic_pruning" -> { (s, dir) =>
      // dimension: month → season, only "peak" months survive the filter;
      // the fact scan must prune to those months AT RUNTIME. The dim is
      // file-backed: Spark's DPP rule keys on a selective Filter over a
      // scan — a LocalRelation would constant-fold the filter away and
      // never trigger pruning.
      val monthDim = monthDimTable(s, dir)
      val fact = ordersByMonth(s, dir)
      fact.join(monthDim.filter(col("season") === "peak"),
          col("o_month") === col("m_month"))
        .groupBy(col("o_month"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_customers"))
        .orderBy(col("o_month"))
    },

    // -- multi-level pruning: LIST prune (static, level 1) stacked with
    //    RANGE prune via DPP (dynamic, level 2) on one scan --
    // -- partition-granular INSERT OVERWRITE (ModifyTable at partition
    //    grain — the reference's partition-exchange / per-partition load
    //    path): dynamic overwrite mode replaces ONLY the partitions the
    //    incoming data touches. The query rewrites the 'F' partition
    //    with discounted prices and reads the whole table back; if the
    //    overwrite had static semantics (drop everything first) the
    //    other partitions would vanish and the oracle — which keeps them
    //    untouched — would mismatch. The mode is a WRITE OPTION, not a
    //    session conf, so no global state leaks between queries --
    "p04_partition_overwrite" -> { (s, dir) =>
      val base = Derived.path(dir, "part_overwrite")
      val orders = Tables.df(s, dir, "orders")
      orders.write.mode("overwrite")
        .partitionBy("o_orderstatus").parquet(base)
      orders.filter(col("o_orderstatus") === "F")
        .withColumn("o_totalprice", col("o_totalprice") * 0.9)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderstatus").parquet(base)
      s.read.parquet(base)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          expr("round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2)").as("total"))
        .orderBy(col("o_orderstatus"))
    },

    "p03_multilevel_pruning" -> { (s, dir) =>
      val fact = ordersByRegionMonth(s, dir)
      val monthDim = monthDimTable(s, dir)
      fact.filter(col("o_region").isin("ASIA", "EUROPE"))
        .join(monthDim.filter(col("season") === "peak"),
          col("o_month") === col("m_month"))
        .groupBy(col("o_region"), col("o_month"))
        .agg(count(lit(1)).as("n_orders"),
          expr("round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2)").as("total"))
        .orderBy(col("o_region"), col("o_month"))
    },

    // -- p05: partition RETENTION / archival — the partition-lifecycle
    //    maintenance job (pg_partman's retention; GP's DROP/EXCHANGE
    //    PARTITION idiom, `gram.y` ALTER TABLE ... EXCHANGE): months
    //    older than the cutoff move from the live table to an archive
    //    location, newer months stay. Both moves are PARTITION-PRUNED
    //    scans of the month-partitioned table (the hive directory
    //    layout makes "older than cutoff" a directory selection, not a
    //    data filter — at 100 TB the job reads only the partitions it
    //    moves), and the audit manifest re-reads both tiers to prove
    //    the split is a partition of the original table --
    "p05_partition_retention" -> { (s, dir) =>
      val cutoff = "1997-07"
      val base = ordersByMonth(s, dir)
      val live = Derived.path(dir, "retention_live")
      val arch = Derived.path(dir, "retention_archive")
      // r19: the r18 two-driver-thread overlap (guide §2.6) is REVERTED
      // to sequential writes. A one-JVM alternating A/B (graft.AB over
      // a temporary conf gate, 8 passes, idle box) read threaded 1.927 s
      // vs sequential 1.974 s — a tie inside noise, confirming r18's
      // "below noise" reading — and the threading carried a real hazard
      // (r18 advice): Await.result rethrowing the first failure while
      // the sibling write still ran let a bench retry's overwrite
      // interleave with the orphaned job's commits. Two 32-task writes
      // on local[32] have no tail to back-fill; dead concurrency is
      // complexity without evidence (r18 verdict #3).
      base.filter(col("o_month") >= cutoff)
        .write.mode("overwrite").partitionBy("o_month").parquet(live)
      base.filter(col("o_month") < cutoff)
        .write.mode("overwrite").partitionBy("o_month").parquet(arch)
      val manifest =
        s.read.parquet(live).withColumn("tier", lit("live"))
          .unionByName(s.read.parquet(arch).withColumn("tier", lit("archive")))
      manifest.groupBy(col("tier"), col("o_month"))
        .agg(count(lit(1)).as("n_orders"),
          expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)")
            .as("cents"))
        .orderBy(col("tier"), col("o_month"))
    }
  )

  def oracle: Map[String, String] = Map(
    "p04_partition_overwrite" -> """
      SELECT o_orderstatus, count(*) AS n,
        round(CAST(sum(CAST(round(p * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS total
      FROM (SELECT o_orderstatus,
              CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 0.9
                   ELSE o_totalprice END AS p
            FROM orders) t
      GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "p01_partition_pruning" -> """
      SELECT strftime(o_orderdate, '%Y-%m') AS o_month, count(*) AS n_orders,
        round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS total
      FROM orders
      WHERE strftime(o_orderdate, '%Y-%m') BETWEEN '1997-01' AND '1997-03'
      GROUP BY 1 ORDER BY o_month""",

    "p02_dynamic_pruning" -> """
      SELECT strftime(o_orderdate, '%Y-%m') AS o_month, count(*) AS n_orders,
        count(DISTINCT o_custkey) AS n_customers
      FROM orders
      WHERE strftime(o_orderdate, '%Y-%m') IN ('1997-06', '1997-07', '1997-08')
      GROUP BY 1 ORDER BY o_month""",

    "p03_multilevel_pruning" -> """
      SELECT r_name AS o_region, strftime(o_orderdate, '%Y-%m') AS o_month,
        count(*) AS n_orders,
        round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS total
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name IN ('ASIA', 'EUROPE')
        AND strftime(o_orderdate, '%Y-%m') IN ('1997-06', '1997-07', '1997-08')
      GROUP BY 1, 2 ORDER BY o_region, o_month""",

    "p05_partition_retention" -> """
      SELECT CASE WHEN strftime(o_orderdate, '%Y-%m') < '1997-07'
                  THEN 'archive' ELSE 'live' END AS tier,
        strftime(o_orderdate, '%Y-%m') AS o_month,
        count(*) AS n_orders,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders
      GROUP BY 1, 2 ORDER BY tier, o_month"""
  )
}
