package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.CsvSreh

/** File-based COPY/sreh semantics (`copy.c:412-434`, `cdbsreh.c`):
  * PERMISSIVE load diverts malformed rows, reject limit aborts. Drives a
  * real CSV on disk through graft.sources.CsvSreh. */
class IngestSpec extends AnyFunSuite with TempDirs {
  import SparkSuite._

  private def writeCsv(lines: Seq[String]): String = {
    val dir = tempDir("graft_csv").toFile
    val f = new java.io.File(dir, "data.csv")
    val w = new java.io.PrintWriter(f)
    lines.foreach(w.println)
    w.close()
    f.getAbsolutePath
  }

  test("good and bad rows are split; counts are exact") {
    val path = writeCsv(Seq(
      "1,100,en", "2,200,de", "3,notanumber,fr", "4,400,en", "5,,en", "6,xx,de"))
    val r = CsvSreh.load(spark, Seq(path), "id BIGINT, n BIGINT, lang STRING", Some((3L, false)))
    // empty field parses as NULL (valid); non-numeric text is malformed
    assert(r.nGood == 4 && r.nBad == 2)
    assert(r.good.columns.toSeq == Seq("id", "n", "lang"))
    assert(r.good.agg(sum("n")).head.getLong(0) == 700L)
    // diverted rows retain the raw line for the error table
    val badRaw = r.bad.select("_corrupt").collect().map(_.getString(0)).sorted
    assert(badRaw.sameElements(Array("3,notanumber,fr", "6,xx,de")))
  }

  test("reject limit exceeded aborts the load (SEGMENT REJECT LIMIT)") {
    val path = writeCsv(Seq("1,a,x", "2,b,y", "3,c,z", "4,400,en"))
    Harness.hygiene(spark)
    val e = intercept[CsvSreh.RejectLimitExceeded] {
      CsvSreh.load(spark, Seq(path), "id BIGINT, n BIGINT, lang STRING", Some((2L, false)))
    }
    assert(e.nBad == 3 && e.limit == 2)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "the aborted load left its parse pinned until hygiene")
    assert(spark.sharedState.cacheManager.isEmpty, "the aborted load left a cached plan")
  }

  test("fully clean file loads with zero rejects") {
    val path = writeCsv(Seq("1,10,aa", "2,20,bb"))
    val r = CsvSreh.load(spark, Seq(path), "id BIGINT, n BIGINT, lang STRING", Some((0L, false)))
    assert(r.nGood == 2 && r.nBad == 0)
  }

  test("c04 exec source: malformed lines divert to reject files within the limit") {
    import org.apache.spark.sql.functions._
    val rejDir = tempDir("graft_exec_rej").toString
    // every partition emits 10 good rows and 2 bad ones (one wrong arity,
    // one non-numeric) — within the per-partition limit of 2
    val df = spark.read.format("graft.sources.ExecSource")
      .option("command",
        "seq 1 10 | while read i; do echo \"$i|ok\"; done; " +
        "echo 'only_one_field'; echo 'NaNish|x'")
      .option("columns", "n bigint, label string")
      .option("partitions", 3)
      .option("reject_limit", 2)
      .option("reject_dir", rejDir)
      .load()
    assert(df.count() == 30, "3 partitions x 10 good rows")
    val rejFiles = new java.io.File(rejDir).listFiles().map(_.getName).toSet
    assert(rejFiles == Set("part-0.rejects", "part-1.rejects", "part-2.rejects"), rejFiles)
    val content = scala.io.Source.fromFile(s"$rejDir/part-1.rejects").getLines().toSeq
    assert(content.length == 2
      && content.exists(_.contains("expected 2 fields, got 1"))
      && content.exists(_.contains("not a bigint")), content)
  }

  test("c04 exec source: reject limit exceeded fails the scan (SEGMENT REJECT LIMIT)") {
    val df = spark.read.format("graft.sources.ExecSource")
      .option("command", "echo 'bad'; echo 'worse'; echo '1|ok'")
      .option("columns", "n bigint, label string")
      .option("partitions", 1)
      .option("reject_limit", 1)
      .load()
    val e = intercept[org.apache.spark.SparkException](df.count())
    assert(e.getMessage.contains("reject limit") ||
      Option(e.getCause).exists(_.getMessage.contains("reject limit")), e.getMessage)
  }

  test("c04 exec source: a failing command fails the scan (no silent empty table)") {
    val df = spark.read.format("graft.sources.ExecSource")
      .option("command", "echo '1|ok'; exit 3")
      .option("columns", "n bigint, label string")
      .option("partitions", 1)
      .load()
    val e = intercept[org.apache.spark.SparkException](df.count())
    assert(e.getMessage.contains("exited with 3") ||
      Option(e.getCause).exists(_.getMessage.contains("exited with 3")), e.getMessage)
  }

  private def gpfdistFixture(): (String, Int) = {
    val root = tempDir("graft_gpfdist").toString
    (root, graft.sources.GpfdistLite.ensure(root))
  }

  private def writeShard(root: String, name: String, lines: Seq[String]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(root, name),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))

  test("c05 http source: multi-URL LOCATION list reads as the union, one partition per URL") {
    val (root, port) = gpfdistFixture()
    writeShard(root, "a.dat", (1 to 50).map(i => s"$i|h${i % 3}"))
    writeShard(root, "b.dat", (51 to 80).map(i => s"$i|h${i % 3}"))
    val df = spark.read.format("graft.sources.HttpSource")
      .option("urls", s"http://127.0.0.1:$port/a.dat,http://127.0.0.1:$port/b.dat")
      .option("columns", "n bigint, label string")
      .load()
    assert(df.rdd.getNumPartitions == 2, "one partition per LOCATION url")
    assert(df.count() == 80)
    assert(df.agg(sum("n")).head.getLong(0) == (1 to 80).sum.toLong)
  }

  test("c05 http source: malformed lines divert to reject files within the limit") {
    val (root, port) = gpfdistFixture()
    val rejDir = tempDir("graft_http_rej").toString
    writeShard(root, "mixed.dat",
      (1 to 10).map(i => s"$i|ok") ++ Seq("only_one_field", "NaNish|x"))
    val df = spark.read.format("graft.sources.HttpSource")
      .option("urls", s"http://127.0.0.1:$port/mixed.dat")
      .option("columns", "n bigint, label string")
      .option("reject_limit", 2)
      .option("reject_dir", rejDir)
      .load()
    assert(df.count() == 10)
    val content = scala.io.Source.fromFile(s"$rejDir/part-0.rejects").getLines().toSeq
    assert(content.length == 2
      && content.exists(_.contains("expected 2 fields, got 1"))
      && content.exists(_.contains("not a bigint")), content)
  }

  test("c05 http source: reject limit exceeded fails the scan (SEGMENT REJECT LIMIT)") {
    val (root, port) = gpfdistFixture()
    writeShard(root, "bad.dat", Seq("bad", "worse", "1|ok"))
    val df = spark.read.format("graft.sources.HttpSource")
      .option("urls", s"http://127.0.0.1:$port/bad.dat")
      .option("columns", "n bigint, label string")
      .option("reject_limit", 1)
      .load()
    val e = intercept[org.apache.spark.SparkException](df.count())
    assert(e.getMessage.contains("reject limit") ||
      Option(e.getCause).exists(_.getMessage.contains("reject limit")), e.getMessage)
  }

  test("c05 http source: a 404 fails the scan (no silent empty table)") {
    val (_, port) = gpfdistFixture()
    val df = spark.read.format("graft.sources.HttpSource")
      .option("urls", s"http://127.0.0.1:$port/missing.dat")
      .option("columns", "n bigint, label string")
      .option("retries", 0)
      .load()
    val e = intercept[org.apache.spark.SparkException](df.count())
    assert(e.getMessage.contains("returned 404") ||
      Option(e.getCause).exists(_.getMessage.contains("returned 404")), e.getMessage)
  }

  test("c05 http source: gzip-encoded shard decodes transparently") {
    val (root, port) = gpfdistFixture()
    val bytes = (1 to 25).map(i => s"$i|z${i % 2}").mkString("", "\n", "\n").getBytes("UTF-8")
    val out = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(out)
    gz.write(bytes); gz.close()
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "c.dat.gz"), out.toByteArray)
    val df = spark.read.format("graft.sources.HttpSource")
      .option("urls", s"http://127.0.0.1:$port/c.dat.gz")
      .option("columns", "n bigint, label string")
      .load()
    assert(df.count() == 25)
    assert(df.agg(sum("n")).head.getLong(0) == (1 to 25).sum.toLong)
  }

  /** Hand-build a COPY BINARY file: header + the given tuples + trailer.
    * Each tuple is a Seq of Option[Array[Byte]] field payloads (None =
    * NULL), so tests can craft wrong-width fields byte-exactly. */
  private def writePgCopy(tuples: Seq[Seq[Option[Array[Byte]]]],
                          corruptSignature: Boolean = false): String = {
    val dir = tempDir("graft_pgcopy")
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    val sig = graft.sources.PgCopyBinary.Signature.clone()
    if (corruptSignature) sig(0) = 'X'.toByte
    out.write(sig); out.writeInt(0); out.writeInt(0)
    tuples.foreach { t =>
      out.writeShort(t.length)
      t.foreach {
        case None => out.writeInt(-1)
        case Some(b) => out.writeInt(b.length); out.write(b)
      }
    }
    out.writeShort(-1); out.close()
    java.nio.file.Files.write(dir.resolve("part-00000.bin"), bos.toByteArray)
    dir.toString
  }

  private def i8(v: Long): Option[Array[Byte]] =
    Some(java.nio.ByteBuffer.allocate(8).putLong(v).array())
  private def txt(s: String): Option[Array[Byte]] = Some(s.getBytes("UTF-8"))

  test("c06 pgcopy: writeDf -> read roundtrip preserves values, nulls, and row count") {
    import spark.implicits._
    val dir = tempDir("graft_pgcopy_rt").toString + "/shards"
    val src = spark.range(1L, 101L).select(
      col("id").as("i"), (col("id") * 0.25).as("v"),
      when(col("id") % 7 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("s"), (col("id") % 3).cast("string"))).as("tag"))
      .repartition(4)
    graft.sources.PgCopyBinary.writeDf(src, dir)
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".bin")) == 4,
      "one shard per partition")
    val back = spark.read.format("graft.sources.PgCopySource")
      .option("path", dir).option("columns", "i bigint, v double, tag string").load()
    assert(back.rdd.getNumPartitions == 4, "one partition per shard")
    assert(back.count() == 100)
    assert(back.filter(col("tag").isNull).count() == 14, "nulls roundtrip as nulls")
    assert(back.agg(sum("i")).head.getLong(0) == (1L to 100L).sum)
    assert(back.agg(round(sum("v"), 2)).head.getDouble(0) == 1262.5)
  }

  test("c06 pgcopy: wrong-width fixed field rejects the tuple, stream stays in sync") {
    val rejDir = tempDir("graft_pgcopy_rej").toString
    val dir = writePgCopy(Seq(
      Seq(i8(1), txt("a")),
      Seq(Some(Array[Byte](0, 0, 0, 42)), txt("bad-int4")), // 4-byte int where int8 declared
      Seq(i8(2), txt("b")),
      Seq(i8(3), txt("c"), txt("extra-field")),             // arity mismatch
      Seq(i8(4), None)))                                    // NULL text is fine
    val df = spark.read.format("graft.sources.PgCopySource")
      .option("path", dir).option("columns", "n bigint, tag string")
      .option("reject_limit", 2).option("reject_dir", rejDir)
      .load()
    assert(df.count() == 3, "two malformed tuples diverted, stream resynced")
    assert(df.agg(sum("n")).head.getLong(0) == 7L)
    val content = scala.io.Source.fromFile(s"$rejDir/part-0.rejects").getLines().toSeq
    assert(content.length == 2
      && content.exists(_.contains("int8 needs 8 bytes, got 4"))
      && content.exists(_.contains("expected 2 fields, got 3")), content)
  }

  test("c06 pgcopy: reject limit exceeded fails the scan (SEGMENT REJECT LIMIT)") {
    val dir = writePgCopy(Seq(
      Seq(Some(Array[Byte](1)), txt("x")),
      Seq(Some(Array[Byte](2)), txt("y")),
      Seq(i8(1), txt("ok"))))
    val df = spark.read.format("graft.sources.PgCopySource")
      .option("path", dir).option("columns", "n bigint, tag string")
      .option("reject_limit", 1).load()
    val e = intercept[org.apache.spark.SparkException](df.count())
    assert(e.getMessage.contains("reject limit") ||
      Option(e.getCause).exists(_.getMessage.contains("reject limit")), e.getMessage)
  }

  test("c06 pgcopy: a corrupt signature fails the scan (structural, not sreh)") {
    val dir = writePgCopy(Seq(Seq(i8(1), txt("a"))), corruptSignature = true)
    val df = spark.read.format("graft.sources.PgCopySource")
      .option("path", dir).option("columns", "n bigint, tag string").load()
    val e = intercept[org.apache.spark.SparkException](df.count())
    assert(e.getMessage.contains("bad signature") ||
      Option(e.getCause).exists(_.getMessage.contains("bad signature")), e.getMessage)
  }

  test("c02 COPY TO: sink + reject files reconcile with the source exactly") {
    import org.apache.spark.sql.functions._
    val audit = operators.Ingest.copyToSreh(spark, SparkSuite.Sf).head
    val total = Tables.df(spark, SparkSuite.Sf, "documents").count()
    assert(audit.getLong(0) + audit.getLong(1) == total,
      "written + diverted must equal source rows (no silent drops)")
    assert(audit.getLong(1) > 0 && audit.getInt(2) == 1)
    // the reject file carries machine-readable error reasons (cdbsreh
    // error-table contract)
    val reasons = spark.read.json(Derived.path(SparkSuite.Sf, "copy_to/rej"))
      .select("err").distinct().collect().map(_.getString(0)).toSet
    assert(reasons == Set("lang_not_in_sink_dictionary", "row_too_wide"), reasons)
  }

  test("c09 storage sweep: every codec round-trips losslessly AND compresses differently") {
    val rows = SparkEntry.queries("c09_storage_sweep")(spark, SparkSuite.Sf).collect()
    assert(rows.length == 3)
    // identical content aggregates across codecs (lossless round-trip)
    assert(rows.map(r => (r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))
      .distinct.length == 1, "all storage configs must hold identical content")
    // the codec option actually reaches the files: zstd strictly smaller
    // than uncompressed on text-heavy data
    def bytes(codec: String): Long = {
      val d = new java.io.File(Derived.path(SparkSuite.Sf, s"storage_sweep/$codec"))
      d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    }
    val (z, u) = (bytes("zstd"), bytes("uncompressed"))
    assert(z > 0 && z < u, s"zstd=$z must undercut uncompressed=$u")
  }

  test("write sizing: maxRecordsPerFile bounds every output file (small-files control)") {
    // The 100 TB writer discipline: unbounded task outputs produce
    // either giant files (slow readers) or a small-files explosion
    // (slow listings). maxRecordsPerFile is the per-file ceiling —
    // every parquet part must respect it, and the row total must
    // survive exactly.
    val out = tempDir("graft_sizing").toString
    val src = Tables.df(spark, Sf, "orders").select("o_orderkey", "o_custkey")
    src.coalesce(2).write.option("maxRecordsPerFile", "200")
      .mode("overwrite").parquet(out)
    val back = spark.read.parquet(out)
    assert(back.count() == src.count())
    val perFile = spark.read.parquet(out)
      .select(org.apache.spark.sql.functions.input_file_name().as("f"))
      .groupBy("f").count().collect()
    assert(perFile.nonEmpty && perFile.forall(_.getLong(1) <= 200),
      s"a file exceeds the 200-row ceiling: ${perFile.map(_.getLong(1)).max}")
  }

  test("directory table storage ops round-trip through the Hadoop FileSystem API") {
    import org.apache.hadoop.fs.Path
    import graft.operators.DirTable
    val root = tempDir("graft_dirtable").toString + "/dt"
    val name = DirTable.exec(spark, root, "CREATE DIRECTORY TABLE t1")
    assert(name == "t1")
    // stage a source file, COPY it in, then read it back via Hadoop FS
    val stageDir = tempDir("graft_dt_stage")
    val stage = stageDir.resolve("hello.bin")
    java.nio.file.Files.write(stage, "hadoop fs round trip\n".getBytes("UTF-8"))
    DirTable.exec(spark, root,
      s"COPY BINARY DIRECTORY TABLE t1 'a/b/hello.bin' FROM '$stage' WITH (tag 'x')")
    val files = new Path(root, "files")
    val fs = files.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dst = new Path(files, "a/b/hello.bin")
    assert(fs.exists(dst), "COPY must land the file under the table root")
    val in = fs.open(dst)
    val got = try {
      val buf = new Array[Byte](64); val n = in.read(buf); new String(buf, 0, n, "UTF-8")
    } finally in.close()
    assert(got == "hadoop fs round trip\n")
    // mtime is stamped by the upload clock rule (second granularity)
    assert(fs.getFileStatus(dst).getModificationTime % 1000 == 0)
    // remove_file deletes storage; a second call is a loud error
    DirTable.exec(spark, root, "SELECT remove_file('t1', 'a/b/hello.bin')")
    assert(!fs.exists(dst))
    intercept[IllegalArgumentException] {
      DirTable.exec(spark, root, "SELECT remove_file('t1', 'a/b/hello.bin')")
    }
  }

  test("write sizing: repartition by partition key yields exactly one file per partition") {
    // partitionBy without co-partitioning writes |tasks| x |partitions|
    // files; repartitioning on the partition column first collapses
    // that to one file per partition — the compaction-friendly layout.
    import org.apache.spark.sql.functions._
    val out = tempDir("graft_onefile").toString
    Tables.df(spark, Sf, "orders")
      .withColumn("status", col("o_orderstatus"))
      .repartition(col("status"))
      .write.partitionBy("status").mode("overwrite").parquet(out)
    val statusDirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("status="))
    assert(statusDirs.nonEmpty)
    statusDirs.foreach { d =>
      val parts = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length == 1,
        s"${d.getName} has ${parts.length} files; expected 1 after repartition")
    }
  }

  test("fixedwidth: field slicing, both reject classes, reject-limit abort") {
    import graft.operators.GpDdl
    import graft.sources.{CsvSreh, FixedWidth}
    import spark.implicits._
    val fw = GpDdl.parseFixedWidth("""
      CREATE READABLE EXTERNAL TABLE t (k BIGINT, name TEXT, v BIGINT)
      LOCATION ('demo://x')
      FORMAT 'CUSTOM' (formatter=fixedwidth_in, k='4', name='6', v='5')
      SEGMENT REJECT LIMIT 25 PERCENT""")
    assert(fw.cols == Seq(("k", "BIGINT", 4), ("name", "TEXT", 6), ("v", "BIGINT", 5)))
    assert(fw.totalWidth == 15 && fw.rejectLimit.contains((25L, true)))
    // 15-wide lines: k[1..4] name[5..10] v[11..15]
    val ok = FixedWidth.parse(Seq(
      "1   alpha 42   ",
      "22  bee   7    ",
      "333 sea   111  ").toDF("line"), fw)
    assert(ok.nBad == 0 && ok.nGood == 3)
    val rows = ok.good.orderBy("k").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 22L, 333L))
    assert(rows.map(_.getString(1)).toSeq == Seq("alpha", "bee", "sea"),
      "blank padding must be trimmed (preserve_blanks=off default)")
    assert(rows.map(_.getLong(2)).toSeq == Seq(42L, 7L, 111L))
    // both reject classes, still within the 25% limit (1/4 rows)
    val mixed = FixedWidth.parse(Seq(
      "1   alpha 42   ",
      "2   bad   xx   ", // conversion reject
      "3   ok    5    ",
      "4   more  6    ").toDF("line"), fw)
    assert(mixed.nBad == 1 && mixed.nGood == 3)
    val short = FixedWidth.parse(Seq(
      "1   alpha 42   ",
      "2   cut", // missing data for column
      "3   ok    5    ",
      "4   more  6    ").toDF("line"), fw)
    assert(short.nBad == 1 && short.nGood == 3)
    // past the limit: 2/4 = 50% > 25% → loud abort, cdbsreh's contract
    Harness.hygiene(spark)
    val e = intercept[CsvSreh.RejectLimitExceeded] {
      FixedWidth.parse(Seq(
        "1   alpha 42   ",
        "2   bad   xx   ",
        "3   cut",
        "4   more  6    ").toDF("line"), fw)
    }
    assert(e.nBad == 2)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "the aborted parse left its spool pinned until hygiene")
    // parser is loud on a missing width
    intercept[IllegalArgumentException] {
      GpDdl.parseFixedWidth("""
        CREATE EXTERNAL TABLE t (k BIGINT, v BIGINT) LOCATION ('demo://x')
        FORMAT 'CUSTOM' (formatter=fixedwidth_in, k='4')""")
    }
    // write side (fixedwidth_out): blank padding, exact line geometry,
    // and the too-long abort (fixedwidth.c:307 — a fixed layout never
    // truncates silently)
    val out = FixedWidth.format(
      Seq((7L, "bee", 42L)).toDF("k", "name", "v"), fw)
      .collect().map(_.getString(0))
    assert(out.toSeq == Seq("7   bee   42   "))
    val boom = intercept[Exception] {
      FixedWidth.format(
        Seq((7L, "sevenchars", 42L)).toDF("k", "name", "v"), fw)
        .collect()
    }
    assert(boom.getMessage.contains("cannot be bigger than the field size"),
      s"got: ${boom.getMessage}")
  }

  test("Tables schema memo: a path rewritten with a different schema re-infers (mtime/size key)") {
    // the r14-advice finding: a process-lifetime memo keyed on path alone
    // would silently misread a rewritten file through the stale schema
    // (missing columns surface as nulls); the (path, mtime, size) key
    // makes the rewrite visible
    import spark.implicits._
    val dir = tempDir("graft_schema_memo").toString
    Seq((1L, "a")).toDF("k", "v1").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    assert(Tables.df(spark, dir, "region").columns.toSeq == Seq("k", "v1"))
    Thread.sleep(1100) // distinct mtime even on coarse filesystems
    Seq((1L, 2.5, true)).toDF("k", "v2", "v3").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    assert(Tables.df(spark, dir, "region").columns.toSeq == Seq("k", "v2", "v3"),
      "rewritten parquet must re-infer, not misread through the stale memo")
  }
}
