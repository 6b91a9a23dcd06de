package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Derived, Tables}

/** Federated / remote-table reads — the `postgres_fdw` + `dblink`
  * surface (`contrib/postgres_fdw/postgres_fdw.c` plans foreign scans
  * with remote WHERE clauses and column lists — `deparse.c` builds the
  * pushed-down remote SQL; `contrib/dblink/dblink.c` runs ad-hoc remote
  * queries; `gpcontrib/pxf_fdw/` is the same FDW shape against external
  * engines). A migrating user joins the warehouse to an operational
  * Postgres on day one; the FDW's whole value is that the remote scan
  * ships PREDICATES and a COLUMN LIST to the remote server instead of
  * pulling the table.
  *
  * Spark-first rendition: Spark's DataSource V2 JDBC catalog
  * (`JDBCTableCatalog`) IS the FDW — `spark.sql.catalog.<srv>.*` confs
  * play the role of `CREATE SERVER` + `IMPORT FOREIGN SCHEMA`, and the
  * V2 JDBC scan pushes filters and prunes columns into the remote SQL
  * exactly like deparse.c (PushedFilters / ReadSchema visible in the
  * plan, asserted in PlanShapeSpec). The remote endpoint here is an
  * embedded Derby database (the only JDBC engine on the classpath —
  * zero-egress sandbox); on a real cluster the SAME code points the URL
  * at Postgres/MySQL and every executor opens its own remote
  * connection, so read bandwidth scales with partition count, exactly
  * like the reference's per-segment FDW connections.
  *
  * c12's shape: the remote side holds the `nation` dimension
  * ("operational metadata DB"); the warehouse-side fact is the local
  * parquet `customer`. The remote scan carries a pushed `n_regionkey`
  * range + 2-column pruning, the join broadcasts the (tiny, filtered)
  * remote result, and the oracle recomputes everything from the local
  * parquet — which is exactly the rows the remote DB was loaded from.
  */
object Federated {

  /** One remote-DB load per (JVM, sf dir). */
  private val built = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def setup(s: SparkSession, dir: String): String =
    built.computeIfAbsent(dir, { _ =>
      val home = new java.io.File(Derived.path("derby_home")).getAbsolutePath
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(home))
      System.setProperty("derby.system.home", home)
      val db = s"fed_${Derived.tag(dir)}"
      val url = s"jdbc:derby:$db;create=true"
      // "CREATE SERVER" load: the operational DB owns the nation dim.
      // VARCHAR column types (not the dialect's CLOB default) so the
      // remote engine can compare/group the strings it is sent.
      Tables.df(s, dir, "nation")
        .write.mode("overwrite")
        .format("jdbc")
        .option("url", url)
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .option("dbtable", "NATION_REMOTE")
        .option("createTableColumnTypes", "n_name VARCHAR(32)")
        .save()
      // "CREATE SERVER": register the V2 catalog for this remote DB
      s.conf.set("spark.sql.catalog.fed",
        "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog")
      s.conf.set("spark.sql.catalog.fed.url", url)
      s.conf.set("spark.sql.catalog.fed.driver", "org.apache.derby.jdbc.EmbeddedDriver")
      s.conf.set("spark.sql.catalog.fed.pushDownAggregate", "true")
      s.conf.set("spark.sql.catalog.fed.pushDownLimit", "true")
      url
    })

  /** The foreign table via the V2 catalog (FDW foreign scan). */
  def remoteNation(s: SparkSession, dir: String): DataFrame = {
    setup(s, dir)
    s.table("fed.APP.NATION_REMOTE")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- c12: FDW join — remote dimension (filter + column list pushed
    //    into the remote SQL) broadcast-joined to the local parquet
    //    fact, then aggregated warehouse-side. The pushed range keeps
    //    3/5 regions before a single row crosses the wire.
    //    PlanShapeSpec asserts the pushdown --
    "c12_fdw_join" -> { (s, dir) =>
      val remote = remoteNation(s, dir)
        .filter(col("n_regionkey") >= 1 && col("n_regionkey") <= 3)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      Tables.df(s, dir, "customer")
        .join(broadcast(remote), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_regionkey"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          sum(expr("CAST(round(c_acctbal * 100) AS BIGINT)")).as("bal_cents"))
        .orderBy(col("n_regionkey"), col("n_name"))
    },

    // -- c14: FDW WRITE-BACK — ModifyTable on a foreign relation
    //    (postgres_fdw's ExecForeignInsert: INSERT INTO a remote table
    //    from a local query; the warehouse pushes a rollup back to the
    //    operational DB). The warehouse-side aggregate is computed over
    //    local parquet, written to the remote server through the same
    //    JDBC wire (executors write their partitions — the per-segment
    //    FDW insert shape), then read BACK via the V2 catalog joined to
    //    the remote dimension — the oracle recomputes the round trip
    //    from parquet alone, so any lost/duplicated remote row breaks
    //    counts.
    //
    //    Atomicity caveat (r11 advice): the Spark JDBC sink's
    //    per-partition inserts are NOT one transaction — a task retry
    //    mid-write can duplicate or lose remote rows, where the
    //    reference's FDW insert is transactional on the remote side. A
    //    production deployment writes to a staging table and swaps it
    //    in after a successful commit (the standard exactly-once JDBC
    //    recipe); the embedded-Derby rig here runs single-process with
    //    no task retries, so the overwrite is deterministic and the
    //    oracle's round-trip check would catch any violation --
    "c14_fdw_writeback" -> { (s, dir) =>
      val url = setup(s, dir)
      Tables.df(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"),
          sum(expr("CAST(round(c_acctbal * 100) AS BIGINT)")).as("bal_cents"))
        .write.mode("overwrite")
        .format("jdbc")
        .option("url", url)
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .option("dbtable", "CUST_ROLLUP")
        .save()
      s.table("fed.APP.CUST_ROLLUP")
        .join(remoteNation(s, dir),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("n_cust").cast("bigint").as("n_cust"),
          col("bal_cents").cast("bigint").as("bal_cents"))
        .orderBy(col("n_name"))
    },

    // -- c13: dblink-style remote aggregate — the WHOLE aggregate is
    //    deparsed into the remote SQL (DSv2 aggregate pushdown: the
    //    remote server computes COUNT/SUM/MIN/MAX per group and ships
    //    5 rows, not 25). dblink('SELECT n_regionkey, count(*) …')'s
    //    exact shape: remote compute, local result rows --
    "c13_fdw_remote_agg" -> { (s, dir) =>
      remoteNation(s, dir)
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n_nations"),
          min(col("n_nationkey")).as("min_key"),
          max(col("n_nationkey")).as("max_key"))
        .orderBy(col("n_regionkey"))
    }
  )

  def oracle: Map[String, String] = Map(
    "c12_fdw_join" -> """
      SELECT n_regionkey, n_name,
        CAST(count(*) AS BIGINT) AS n_cust,
        CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      WHERE n_regionkey BETWEEN 1 AND 3
      GROUP BY n_regionkey, n_name
      ORDER BY n_regionkey, n_name""",

    "c14_fdw_writeback" -> """
      SELECT n_name,
        CAST(count(*) AS BIGINT) AS n_cust,
        CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name""",

    "c13_fdw_remote_agg" -> """
      SELECT n_regionkey,
        CAST(count(*) AS BIGINT) AS n_nations,
        CAST(min(n_nationkey) AS BIGINT) AS min_key,
        CAST(max(n_nationkey) AS BIGINT) AS max_key
      FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"""
  )
}
