package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.GpDdl

/** GP DDL front-end: grammar subset parsing + partition routing
  * semantics (gram.y START inclusive / END exclusive / EVERY windows /
  * DEFAULT PARTITION / no-partition-found error). */
class GpDdlSpec extends AnyFunSuite with TempDirs {
  import SparkSuite._

  test("parser: CREATE … DISTRIBUTED BY … PARTITION BY RANGE START/END/EVERY/DEFAULT") {
    val td = GpDdl.parse(GpDdl.OrdersDdl)
    assert(td.name == "orders_gp")
    assert(td.cols.map(_._1) ==
      Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"))
    assert(td.cols.head._2 == "BIGINT")
    assert(td.distKeys == Seq("o_orderkey") && !td.randomly)
    val p = td.part.get
    assert(p.col == "o_orderdate" && p.start == "1997-01-01" &&
      p.end == "1998-01-01" && p.everyMonths == 1 &&
      p.defaultPartition.contains("outliers"))
  }

  test("parser: DISTRIBUTED RANDOMLY, multi-key, EVERY k months; loud errors otherwise") {
    val r = GpDdl.parse(
      "CREATE TABLE t (a BIGINT, b TEXT) DISTRIBUTED RANDOMLY")
    assert(r.randomly && r.distKeys.isEmpty && r.part.isEmpty)
    val mk = GpDdl.parse(
      """CREATE TABLE t (a BIGINT, b BIGINT, ts TIMESTAMP)
         DISTRIBUTED BY (a, b)
         PARTITION BY RANGE (ts)
         (START ('2020-01-01') END ('2021-01-01') EVERY (INTERVAL '3 months'))""")
    assert(mk.distKeys == Seq("a", "b") && mk.part.get.everyMonths == 3 &&
      mk.part.get.defaultPartition.isEmpty)
    intercept[IllegalArgumentException] {
      GpDdl.parse("CREATE TABLE t (a BIGINT)") // no DISTRIBUTED clause
    }
    intercept[IllegalArgumentException] {
      GpDdl.parse(
        """CREATE TABLE t (a BIGINT, ts TIMESTAMP) DISTRIBUTED BY (a)
           PARTITION BY RANGE (ts) (START ('2020-01-01') END ('2021-01-01'))""")
    }
  }

  test("routing: START inclusive, END exclusive, EVERY windows; default partition catches strays") {
    import spark.implicits._
    val src = Seq(
      (1L, "1997-01-01 00:00:00"), // START boundary → first window
      (2L, "1997-03-15 00:00:00"),
      (3L, "1997-12-31 23:00:00"),
      (4L, "1998-01-01 00:00:00"), // END boundary → EXCLUSIVE → default
      (5L, "1995-06-01 00:00:00")  // before START → default
    ).toDF("k", "ts_s").select(col("k"), col("ts_s").cast("timestamp").as("ts"))
    val tbl = GpDdl.create(spark,
      """CREATE TABLE route_probe (k BIGINT, ts TIMESTAMP)
         DISTRIBUTED BY (k)
         PARTITION BY RANGE (ts)
         (START ('1997-01-01') END ('1998-01-01') EVERY (INTERVAL '1 month'),
          DEFAULT PARTITION strays)""",
      src, "spec")
    val got = spark.table(tbl).select(col("k"), col("ts_prt"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "1997-01", 2L -> "1997-03", 3L -> "1997-12",
      4L -> "strays", 5L -> "strays"))
  }

  test("routing: out-of-range row with NO default partition fails the insert loudly") {
    import spark.implicits._
    val src = Seq((1L, "2005-01-01 00:00:00")).toDF("k", "ts_s")
      .select(col("k"), col("ts_s").cast("timestamp").as("ts"))
    val e = intercept[Exception] {
      GpDdl.create(spark,
        """CREATE TABLE route_fail (k BIGINT, ts TIMESTAMP)
           DISTRIBUTED BY (k)
           PARTITION BY RANGE (ts)
           (START ('1997-01-01') END ('1998-01-01') EVERY (INTERVAL '1 month'))""",
        src, "spec")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("no partition found for row")),
      s"expected PG's no-partition-found contract, got: $e")
  }

  test("external DDL: LOCATION / FORMAT / SEGMENT REJECT LIMIT parse; PG type mapping") {
    val ed = GpDdl.parseExternal(
      """CREATE READABLE EXTERNAL TABLE t (a BIGINT, b TEXT, c FLOAT8)
         LOCATION ('file:///x/part1.csv', 'file:///x/part2.csv')
         FORMAT 'CSV' (DELIMITER '|' HEADER)
         SEGMENT REJECT LIMIT 10 ROWS""")
    assert(ed.name == "t" && ed.ddlSchema == "a BIGINT, b STRING, c DOUBLE")
    assert(ed.locations == Seq("file:///x/part1.csv", "file:///x/part2.csv"))
    assert(ed.delimiter == "|" && ed.header)
    assert(ed.rejectLimit.contains((10L, false)))
    val pct = GpDdl.parseExternal(
      """CREATE EXTERNAL TABLE p (a BIGINT) LOCATION ('file:///y')
         FORMAT 'CSV' SEGMENT REJECT LIMIT 15 PERCENT""")
    assert(pct.rejectLimit.contains((15L, true)) && pct.delimiter == ",")
    intercept[IllegalArgumentException] {
      GpDdl.parseExternal("CREATE EXTERNAL TABLE t (a BIGINT) FORMAT 'CSV'")
    }
  }

  test("external DDL: data past the declared reject limit aborts the load (sreh contract)") {
    val dirF = new java.io.File("target/tmp/ext_abort"); dirF.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get("target/tmp/ext_abort/data.csv"),
      "1,10\n2,bad\n3,30\n4,worse\n".getBytes("UTF-8"))
    val ddl = s"""CREATE EXTERNAL TABLE abortive (k BIGINT, v BIGINT)
      LOCATION ('file://${dirF.getAbsolutePath}/data.csv')
      FORMAT 'CSV' SEGMENT REJECT LIMIT 1 ROWS"""
    val e = intercept[graft.sources.CsvSreh.RejectLimitExceeded] {
      GpDdl.readExternal(spark, ddl)
    }
    assert(e.nBad == 2 && e.limit == 1)
    // the same data under a permissive-enough limit loads the good rows
    val ok = ddl.replace("LIMIT 1 ROWS", "LIMIT 50 PERCENT")
    val (good, nGood, nBad) = GpDdl.readExternal(spark, ok)
    assert(nGood == 2 && nBad == 2 && good.count() == 2)
  }

  test("ALTER partition statements parse; ADD creates the directory; unknown forms fail loudly") {
    assert(GpDdl.parseAlter(
      "ALTER TABLE t DROP PARTITION FOR ('1997-02-14')") ==
      GpDdl.DropPart("t", "1997-02-14"))
    assert(GpDdl.parseAlter(
      "alter table T truncate partition for ('1997-04-01')") ==
      GpDdl.TruncatePart("t", "1997-04-01"))
    assert(GpDdl.parseAlter(
      "ALTER TABLE t EXCHANGE PARTITION FOR ('1997-06-01') WITH TABLE stg") ==
      GpDdl.ExchangePart("t", "1997-06-01", "stg"))
    assert(GpDdl.parseAlter(
      "ALTER TABLE t ADD PARTITION START ('1998-01-01') END ('1998-02-01')") ==
      GpDdl.AddPart("t", "1998-01-01"))
    intercept[IllegalArgumentException] {
      GpDdl.parseAlter("ALTER TABLE t SPLIT PARTITION FOR ('x') AT ('y')")
    }
    // ADD on the hive layout creates the (empty) partition directory;
    // DROP on a missing partition is a loud error, not a silent no-op
    val base = new java.io.File("target/tmp/ddl_alter_add"); base.mkdirs()
    GpDdl.applyAlter(spark,
      "ALTER TABLE t ADD PARTITION START ('1998-01-01') END ('1998-02-01')",
      base.getAbsolutePath, "o_month", _.substring(0, 7))
    assert(new java.io.File(base, "o_month=1998-01").isDirectory)
    intercept[IllegalArgumentException] {
      GpDdl.applyAlter(spark, "ALTER TABLE t DROP PARTITION FOR ('2050-01-01')",
        base.getAbsolutePath, "o_month", _.substring(0, 7))
    }
  }

  test("dynamic table DDL: parse, schedule interval, scheduler binding") {
    // grammar subset (gram.y:7615): SCHEDULE present / omitted (default
    // pg_task.h:76 */5), the select body carried verbatim
    val dt = GpDdl.parseDynamicTable(
      "CREATE DYNAMIC TABLE dt1 SCHEDULE '*/5 * * * *' AS SELECT 1 AS x")
    assert(dt.name == "dt1" && dt.schedule == "*/5 * * * *" &&
      dt.selectSql == "SELECT 1 AS x")
    assert(GpDdl.parseDynamicTable(
      "CREATE DYNAMIC TABLE dt2 AS SELECT 2 AS x").schedule == "*/5 * * * *")
    intercept[IllegalArgumentException] {
      GpDdl.parseDynamicTable("CREATE DYNAMIC TABLE dt3 SCHEDULE '*/5 * * * *'")
    }
    // cron subset → firing interval
    assert(GpDdl.scheduleIntervalMs("*/5 * * * *") == 300000L)
    assert(GpDdl.scheduleIntervalMs("*/1 * * * *") == 60000L)
    assert(GpDdl.scheduleIntervalMs("30 * * * *") == 3600000L)
    assert(GpDdl.scheduleIntervalMs("15 3 * * *") == 86400000L)
    assert(GpDdl.scheduleIntervalMs("10 seconds") == 10000L)
    intercept[IllegalArgumentException] {
      GpDdl.scheduleIntervalMs("* * * * 1-5") // non-fixed-period form
    }
    // binding: the parsed schedule drives the scheduler's due decision
    val (_, sched, parsed) = GpDdl.createDynamicTable(spark,
      "CREATE DYNAMIC TABLE dt_bind SCHEDULE '*/5 * * * *' AS SELECT 42 AS x",
      "testbind")
    assert(parsed.schedule == "*/5 * * * *")
    assert(sched.tick(0L)) // create-time refresh
    assert(!sched.tick(299999L)) // one ms early — not due
    assert(sched.tick(300000L)) // exactly the parsed interval — fires
    assert(sched.refreshCount == 2L)
    // the generated task body (createas.c:1880) parses back to the name
    assert(GpDdl.parseRefreshDynamicTable("REFRESH DYNAMIC TABLE dt_bind") == "dt_bind")
    intercept[IllegalArgumentException] {
      GpDdl.parseRefreshDynamicTable("REFRESH MATERIALIZED VIEW x")
    }
  }

  test("SPLIT PARTITION: one-directory surgery, row conservation, loud errors") {
    import org.apache.spark.sql.functions.{col, date_format, expr}
    // scratch two-month table
    val base = tempDir("graft_ddl_split").toString
    Tables.df(spark, Sf, "orders")
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .filter(col("o_month").isin("1997-05", "1997-06"))
      .repartition(col("o_month"))
      .write.mode("overwrite").partitionBy("o_month").parquet(base)
    def files(label: String): Seq[String] = {
      val d = new java.io.File(base, s"o_month=$label")
      if (!d.exists()) Seq.empty
      else d.listFiles().map(f => f.getName + ":" + f.lastModified()).sorted.toSeq
    }
    val mayBefore = files("1997-05")
    val juneRows = spark.read.parquet(s"$base/o_month=1997-06").count()
    Harness.hygiene(spark)
    val op = GpDdl.applySplit(spark,
      """ALTER TABLE t SPLIT PARTITION FOR ('1997-06-15') AT ('1997-06-16')
         INTO (PARTITION h1, PARTITION h2)""",
      base, "o_month", _.substring(0, 7),
      at => col("o_orderdate") < expr(s"TIMESTAMP '$at 00:00:00'"))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty, "the split's source spool outlived it")
    assert(op == GpDdl.SplitPart("t", "1997-06-15", "1997-06-16", "h1", "h2"))
    // the source partition is gone; the two halves conserve its rows
    assert(files("1997-06").isEmpty, "source partition must be removed")
    val h1 = spark.read.parquet(s"$base/o_month=h1")
    val h2 = spark.read.parquet(s"$base/o_month=h2")
    assert(h1.count() + h2.count() == juneRows, "split lost or duplicated rows")
    assert(h1.filter(col("o_orderdate") >= expr("TIMESTAMP '1997-06-16 00:00:00'")).count() == 0)
    assert(h2.filter(col("o_orderdate") < expr("TIMESTAMP '1997-06-16 00:00:00'")).count() == 0)
    // directory-op contract: the sibling partition's files are untouched
    assert(files("1997-05") == mayBefore, "sibling partition was touched")
    // loud: splitting a missing partition; SPLIT routed through applyAlter
    intercept[IllegalArgumentException] {
      GpDdl.applySplit(spark,
        """ALTER TABLE t SPLIT PARTITION FOR ('2050-01-01') AT ('2050-01-02')
           INTO (PARTITION a, PARTITION b)""",
        base, "o_month", _.substring(0, 7), at => col("o_orderdate") < expr(s"TIMESTAMP '$at 00:00:00'"))
    }
    intercept[IllegalArgumentException] {
      GpDdl.applyAlter(spark,
        """ALTER TABLE t SPLIT PARTITION FOR ('1997-05-01') AT ('1997-05-02')
           INTO (PARTITION a, PARTITION b)""",
        base, "o_month", _.substring(0, 7))
    }
    // RENAME PARTITION (gram.y:4759): pure directory-label metadata —
    // same files, same rows, new label; colliding target is loud
    val mayRows = spark.read.parquet(s"$base/o_month=1997-05").count()
    val rn = GpDdl.applyAlter(spark,
      "ALTER TABLE t RENAME PARTITION FOR ('1997-05-01') TO may_sales",
      base, "o_month", _.substring(0, 7))
    assert(rn == GpDdl.RenamePart("t", "1997-05-01", "may_sales"))
    assert(!new java.io.File(base, "o_month=1997-05").exists())
    assert(spark.read.parquet(s"$base/o_month=may_sales").count() == mayRows)
    intercept[IllegalArgumentException] {
      GpDdl.applyAlter(spark,
        "ALTER TABLE t RENAME PARTITION FOR ('2050-01-01') TO nope",
        base, "o_month", _.substring(0, 7))
    }
    intercept[IllegalArgumentException] { // target collision
      GpDdl.applyAlter(spark,
        "ALTER TABLE t RENAME PARTITION FOR ('1997-06-15') TO h1",
        base, "o_month", _ => "h2")
    }
  }

  test("SPLIT PARTITION crash recovery: hidden stages repair both interrupt states") {
    import org.apache.spark.sql.functions.{col, date_format}
    val base = tempDir("graft_ddl_split_cr").toString
    Tables.df(spark, Sf, "orders")
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .filter(col("o_month") === "1997-07")
      .repartition(1)
      .write.mode("overwrite").partitionBy("o_month").parquet(base)
    val total = spark.read.parquet(base).count()
    // hand-build the on-disk state an interrupted split leaves: a hidden
    // stage directory carrying a marker that names its source partition
    def stage(name: String, srcName: String, mark: Boolean): java.io.File = {
      val tmp = new java.io.File(base, s".graft_split_tmp.o_month=$name")
      spark.read.parquet(s"$base/o_month=1997-07").limit(5)
        .write.mode("overwrite").parquet(tmp.getAbsolutePath)
      if (mark) java.nio.file.Files.write(
        new java.io.File(tmp, "_graft_split_src").toPath,
        srcName.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      tmp
    }
    // state (a): crash BEFORE the source removal — the stage coexists with
    // its source. The dot-prefix keeps it invisible to readers (never a
    // double count), and recovery discards it, leaving the source intact.
    val tmpA = stage("ha", "o_month=1997-07", mark = true)
    assert(spark.read.parquet(base).count() == total, "hidden stage leaked into reads")
    assert(GpDdl.recoverInterruptedSplits(base) == 1)
    assert(!tmpA.exists(), "state-(a) stage must be discarded")
    assert(spark.read.parquet(base).count() == total)
    // state (b): crash AFTER the source removal, before the rename — the
    // marker names a source that no longer exists; recovery publishes the
    // stage so the temporarily-invisible rows come back.
    val tmpB = stage("hb", "o_month=no_such_dir", mark = true)
    assert(GpDdl.recoverInterruptedSplits(base) == 1)
    assert(!tmpB.exists(), "state-(b) stage must be renamed into place")
    assert(spark.read.parquet(s"$base/o_month=hb").count() == 5)
    // a stage with no marker arose mid-staging (crash during the half's
    // parquet write, BEFORE its marker was written — the tombstone rename
    // happens strictly after both markers exist, so the source is intact):
    // discardable staging garbage, never a wedge (r14 advice #1)
    val afterB = spark.read.parquet(base).count()
    val tmpC = stage("hc", "", mark = false)
    assert(GpDdl.recoverInterruptedSplits(base) == 1)
    assert(!tmpC.exists(), "marker-less stage must be discarded as staging garbage")
    assert(spark.read.parquet(base).count() == afterB, "readable rows untouched")
    // state (b) with an occupied destination: the stage parks under a
    // quarantine name (rows preserved, invisible to readers) and the
    // repair fails ONCE with a collision-not-corruption message; the
    // NEXT recovery is not blocked (r14 advice #4)
    val tmpD = stage("hd", "o_month=no_such_dir2", mark = true)
    new java.io.File(base, "o_month=hd").mkdirs() // foreign occupant
    val ex = intercept[IllegalStateException] { GpDdl.recoverInterruptedSplits(base) }
    assert(ex.getMessage.contains("name collision, not corruption"))
    assert(!tmpD.exists(), "collided stage must be parked, not left in place")
    val parked = new java.io.File(base).listFiles()
      .filter(_.getName.startsWith(".graft_split_quarantine."))
    assert(parked.length == 1, "exactly one quarantined stage expected")
    assert(spark.read.parquet(parked.head.getAbsolutePath).count() == 5,
      "quarantined rows must be preserved for inspection")
    assert(GpDdl.recoverInterruptedSplits(base) == 0,
      "later recoveries must not be blocked by the quarantined stage")
  }

  test("SPLIT PARTITION crash recovery: a mid-delete tombstone never masquerades as an intact source") {
    import org.apache.spark.sql.functions.{col, date_format}
    val base = tempDir("graft_ddl_split_tomb").toString
    Tables.df(spark, Sf, "orders")
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .filter(col("o_month") === "1997-07")
      .repartition(1)
      .write.mode("overwrite").partitionBy("o_month").parquet(base)
    val src = new java.io.File(base, "o_month=1997-07")
    val srcRows = spark.read.parquet(src.getAbsolutePath).count()
    def stage(name: String): java.io.File = {
      val tmp = new java.io.File(base, s".graft_split_tmp.o_month=$name")
      spark.read.parquet(src.getAbsolutePath).limit(5)
        .write.mode("overwrite").parquet(tmp.getAbsolutePath)
      java.nio.file.Files.write(
        new java.io.File(tmp, "_graft_split_src").toPath,
        "o_month=1997-07".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      tmp
    }
    // hand-build the r13-advice crash window: both halves fully staged,
    // source atomically renamed to its tombstone, recursive delete of
    // the tombstone interrupted halfway (one data file already gone).
    // Pre-tombstone protocol this read as "source still exists" →
    // state (a) → both stages (the only complete copy) were destroyed.
    val t1 = stage("td1"); val t2 = stage("td2")
    val tomb = new java.io.File(base, ".graft_split_rm.o_month=1997-07")
    assert(src.renameTo(tomb))
    tomb.listFiles().filter(_.getName.endsWith(".parquet")).take(1).foreach(_.delete())
    assert(GpDdl.recoverInterruptedSplits(base) == 2)
    assert(!t1.exists() && !t2.exists(), "stages must be published, not discarded")
    assert(!tomb.exists(), "tombstone remnant must be cleared")
    assert(!src.exists(), "retired source name must not come back")
    assert(spark.read.parquet(s"$base/o_month=td1").count() == 5)
    assert(spark.read.parquet(s"$base/o_month=td2").count() == 5)
    // markers were deleted after publish — published halves are marker-free
    assert(!new java.io.File(s"$base/o_month=td1", "_graft_split_src").exists())
    assert(srcRows > 5) // the window genuinely hid rows until repair
  }

  test("SPLIT PARTITION: destination collision fails BEFORE the source is touched, and recovery unwedges") {
    import org.apache.spark.sql.functions.{col, date_format, expr}
    val base = tempDir("graft_ddl_split_coll").toString
    Tables.df(spark, Sf, "orders")
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .filter(col("o_month").isin("1997-06", "1997-07"))
      .repartition(1)
      .write.mode("overwrite").partitionBy("o_month").parquet(base)
    val juneRows = spark.read.parquet(s"$base/o_month=1997-06").count()
    // pre-create a colliding destination name for the second half
    new java.io.File(base, "o_month=h2").mkdirs()
    Harness.hygiene(spark)
    intercept[IllegalArgumentException] {
      GpDdl.applySplit(spark,
        """ALTER TABLE t SPLIT PARTITION FOR ('1997-06-15') AT ('1997-06-16')
           INTO (PARTITION h1, PARTITION h2)""",
        base, "o_month", _.substring(0, 7),
        at => col("o_orderdate") < expr(s"TIMESTAMP '$at 00:00:00'"))
    }
    assert(spark.sparkContext.getPersistentRDDs.isEmpty, "the failed split kept its source spool")
    // the source was never touched — no data loss, no partial delete
    assert(spark.read.parquet(s"$base/o_month=1997-06").count() == juneRows)
    // and the leftover stages still carry markers, so the next entry's
    // recovery discards them as state (a) instead of hard-failing —
    // the r13 "wedged until manual cleanup" window is gone
    assert(GpDdl.recoverInterruptedSplits(base) == 2)
    assert(new java.io.File(base).listFiles()
      .count(_.getName.startsWith(".graft_split_tmp.")) == 0)
    assert(spark.read.parquet(s"$base/o_month=1997-06").count() == juneRows)
  }

  test("layout: ensureOrders yields one directory per 1997 month plus the default") {
    val tbl = GpDdl.ensureOrders(spark, Sf)
    val parts = spark.table(tbl).select("o_orderdate_prt").distinct()
      .collect().map(_.getString(0)).sorted
    val expected = ((1 to 12).map(m => f"1997-$m%02d") :+ "outliers").sorted
    assert(parts.toSeq == expected, s"got ${parts.toSeq}")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
  }
}
