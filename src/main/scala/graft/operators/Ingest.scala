package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Derived, Tables}

/** COPY-FROM with row-error diversion as a query (`copy.c` + `cdbsreh.c`
  * semantics — see graft.sources.CsvSreh for the file-based API, which
  * the ScalaTest suite drives against a real CSV on disk).
  *
  * Here the CSV lines are synthesized deterministically from `documents`
  * (~10% malformed: a non-numeric field), parsed executor-side with
  * PERMISSIVE `from_csv` + corrupt-record column, and the result audits
  * the load: rows loaded, rows rejected, and whether the reject limit
  * held — the exact bookkeeping `SEGMENT REJECT LIMIT ... PERCENT` does.
  */
object Ingest {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- DataSource V2 FunctionScan: generate_series as a real scan
    //    operator (graft.sources.SeriesSource) with filter pushdown into
    //    the generated range, column pruning, and partitioned planning.
    //    The BETWEEN lands in the source (rows outside are never
    //    generated); `label` is never computed (pruned) --
    "c03_series_source" -> { (s, _) =>
      s.read.format("graft.sources.SeriesSource")
        .option("start", 1L).option("end", 1000000L).option("partitions", 8)
        .load()
        .filter(col("i") >= 250000L && col("i") <= 750000L)
        .groupBy(pmod(col("i"), lit(10)).as("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("sq")).as("sum_sq"))
        .orderBy(col("bucket"))
    },

    // -- exec-protocol external table (graft.sources.ExecSource): every
    //    partition runs the command executor-side (`EXECUTE '...' ON ALL`,
    //    url_execute.c) and parses its pipe-delimited stdout; the segment
    //    id env var shards the series so the union over 4 partitions is
    //    exactly 1..100 --
    "c04_exec_source" -> { (s, _) =>
      s.read.format("graft.sources.ExecSource")
        .option("command",
          "seq $((GRAFT_SEGMENT_ID * 25 + 1)) $(((GRAFT_SEGMENT_ID + 1) * 25)) | " +
          "while read i; do echo \"$i|n$((i % 7))\"; done")
        .option("columns", "n bigint, label string")
        .option("partitions", 4)
        .load()
        .groupBy(col("label"))
        .agg(count(lit(1)).as("cnt"), sum(col("n")).cast("bigint").as("total"))
        .orderBy(col("label"))
    },

    // -- http-protocol external table (graft.sources.HttpSource +
    //    GpfdistLite): LOCATION ('http://.../part0.dat', '.../part1.dat')
    //    semantics — one partition per URL, each streamed executor-side
    //    from a gpfdist-style daemon (url_curl.c / src/bin/gpfdist) --
    "c05_http_source" -> { (s, _) =>
      val root = Derived.path("gpfdist_root")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
      def shard(name: String, lo: Int, hi: Int): Unit =
        java.nio.file.Files.write(
          java.nio.file.Paths.get(root, name),
          (lo to hi).map(i => s"$i|${i * 0.25}|g${i % 9}")
            .mkString("", "\n", "\n").getBytes("UTF-8"))
      shard("part0.dat", 1, 100)
      shard("part1.dat", 101, 200)
      val port = graft.sources.GpfdistLite.ensure(root)
      s.read.format("graft.sources.HttpSource")
        .option("urls",
          s"http://127.0.0.1:$port/part0.dat,http://127.0.0.1:$port/part1.dat")
        .option("columns", "n bigint, v double, label string")
        .load()
        .groupBy(col("label"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("v")), 2).as("total_v"),
          sum(col("n")).cast("bigint").as("total_n"))
        .orderBy(col("label"))
    },

    // -- COPY BINARY roundtrip (graft.sources.PgCopySource +
    //    PgCopyBinary.writeDf): COPY TO (FORMAT BINARY) writes one .bin
    //    shard per partition EXECUTOR-SIDE, COPY FROM (FORMAT BINARY)
    //    reads one partition per shard (copy.c binary branch; tuples are
    //    int16 field count + int32-length-prefixed big-endian fields,
    //    NULL = -1) --
    "c06_copy_binary" -> { (s, _) =>
      val dir = Derived.path("pgcopy_bin")
      val src = s.range(1L, 301L).select(
        col("id").as("i"),
        (col("id") * 0.5).as("v"),
        when(col("id") % 10 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("t"), (col("id") % 4).cast("string"))).as("tag"))
        .repartition(3)
      graft.sources.PgCopyBinary.writeDf(src, dir)
      s.read.format("graft.sources.PgCopySource")
        .option("path", dir)
        .option("columns", "i bigint, v double, tag string")
        .load()
        .groupBy(coalesce(col("tag"), lit("none")).as("tag"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("i")).cast("bigint").as("sum_i"),
          round(sum(col("v")), 2).as("total_v"))
        .orderBy(col("tag"))
    },

    // -- CSV quoting/escaping torture roundtrip (copy.c CSV mode:
    //    QUOTE/ESCAPE handling): payloads embedding the delimiter, the
    //    quote char, newlines, and backslashes go through a REAL file
    //    (quoteAll write → multiLine read) and must come back
    //    byte-identical. The oracle builds the same payloads and asserts
    //    roundtrip_ok = 1, so any quoting bug hash-mismatches --
    "c07_csv_quoting" -> { (s, _) =>
      val out = Derived.path("csv_quoting")
      val src = s.range(1L, 201L).select(col("id"),
        concat(lit("x,\"y\"\nz\\"), col("id").cast("string"), lit("\tend")).as("payload"))
      src.write.mode("overwrite")
        .option("quoteAll", "true").option("escape", "\"")
        .csv(out)
      val back = s.read
        .option("multiLine", "true").option("escape", "\"")
        .schema("id BIGINT, payload STRING").csv(out)
        .select(col("id"), col("payload").as("payload_back"))
      src.join(back, Seq("id"))
        .select(col("id"), md5(col("payload")).as("payload_md5"),
          (md5(col("payload")) === md5(col("payload_back"))).cast("int").as("roundtrip_ok"))
        .orderBy(col("id"))
    },

    // -- c11: COMPRESSED text ingest — gzip'd CSV in, aggregates out
    //    (the COPY FROM PROGRAM 'zcat …' / gzip external-table path,
    //    reference `src/backend/access/external/url_execute.c` +
    //    sreh-adjacent ingest shapes). The load is a REAL .csv.gz file
    //    (codec option on write; Spark auto-detects by extension on
    //    read). Gzip streams are NOT splittable — one file = one task —
    //    so at 100 TB the job writes MANY gz files (here 4) and
    //    parallelism is the file count, exactly how production gz
    //    corpora are laid out; the audit aggregates the read-back and
    //    the oracle aggregates the source table, so a decompression or
    //    parse fault hash-mismatches --
    "c11_gzip_csv" -> { (s, dir) =>
      val out = Derived.path(dir, "gzip_csv")
      Tables.df(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .repartition(4)
        .write.mode("overwrite").option("compression", "gzip")
        .option("header", "true").csv(out)
      s.read.option("header", "true")
        .schema("o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT")
        .csv(out)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("cents")).cast("long").as("total_cents"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderstatus"))
    },

    // -- c15: FIXED-WIDTH external format (`contrib/formatter_fixedwidth/
    //    fixedwidth.c`, DDL FORMAT 'CUSTOM' (formatter=fixedwidth_in,
    //    col='width', …)) — the mainframe/COBOL extract layout. The
    //    column widths come from the ddl02-style DDL TEXT (GpDdl.
    //    parseFixedWidth) and compile to a substring/rtrim/try_cast
    //    projection (sources/FixedWidth — one codegen pass, no UDF).
    //    Planted defects exercise both sreh reject classes: a NON-NUMERIC
    //    value in a numeric field (key%10=7 → conversion reject) and a
    //    TRUNCATED line (key%100=51 → "missing data for column"), both
    //    under the declared SEGMENT REJECT LIMIT 15 PERCENT (the
    //    over-limit abort is IngestSpec's contract test). The audit
    //    aggregates the LOADED relation — positions, trims, and casts
    //    all proven by the cents sum --
    "c15_fixedwidth" -> { (s, dir) =>
      val fw = GpDdl.parseFixedWidth("""
        CREATE READABLE EXTERNAL TABLE orders_fw (
          o_orderkey BIGINT, o_orderpriority TEXT, total_cents BIGINT)
        LOCATION ('demo://orders_fixedwidth')
        FORMAT 'CUSTOM' (formatter=fixedwidth_in,
          o_orderkey='10', o_orderpriority='16', total_cents='12')
        SEGMENT REJECT LIMIT 15 PERCENT""")
      val lines = Tables.df(s, dir, "orders")
        .select(col("o_orderkey"), concat(
          rpad(col("o_orderkey").cast("string"), 10, " "),
          rpad(col("o_orderpriority"), 16, " "),
          rpad(when(col("o_orderkey") % 10 === 7, lit("notanumber"))
            .otherwise(expr("CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING)")),
            12, " ")).as("full"))
        .select(when(col("o_orderkey") % 100 === 51,
          expr("substring(full, 1, 20)")).otherwise(col("full")).as("line"))
      val res = graft.sources.FixedWidth.parse(lines, fw)
      res.good.agg(
        lit(res.nGood).as("n_loaded"),
        lit(res.nBad).as("n_rejected"),
        lit(1).as("within_limit"),
        sum(col("total_cents")).cast("long").as("total_cents"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
    },

    // -- c16: the WRITE side of the fixed-width formatter
    //    (fixedwidth.c:555 fixedwidth_out — blank-padded fields, a
    //    value longer than its declared width ERRORS rather than
    //    silently truncating; the abort contract is IngestSpec's).
    //    Round-trip audit: an orders slice renders to lines through the
    //    SAME DDL-parsed widths c15 reads with, parses back through the
    //    c15 reader, and the aggregate proves zero rejects, exact line
    //    geometry, and value preservation — the oracle re-derives
    //    everything from the raw table, so any pad/slice asymmetry
    //    breaks the compare --
    "c16_fixedwidth_out" -> { (s, dir) =>
      val fw = GpDdl.parseFixedWidth("""
        CREATE WRITABLE EXTERNAL TABLE orders_fw_out (
          o_orderkey BIGINT, o_orderpriority TEXT, total_cents BIGINT)
        LOCATION ('demo://orders_fixedwidth_out')
        FORMAT 'CUSTOM' (formatter=fixedwidth_out,
          o_orderkey='10', o_orderpriority='16', total_cents='12')""")
      val src = Tables.df(s, dir, "orders")
        .filter(col("o_orderkey") % 10 === 4)
        .select(col("o_orderkey"), col("o_orderpriority"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("total_cents"))
      val lines = graft.sources.FixedWidth.format(src, fw)
      // line-geometry audit stays distributed: a 1-row aggregate
      // cross-joined onto the 1-row result (no driver collect)
      val widthAgg = lines.agg(
        (min(length(col("line"))) === fw.totalWidth &&
          max(length(col("line"))) === fw.totalWidth).as("width_ok"))
      val res = graft.sources.FixedWidth.parse(lines, fw)
      res.good.agg(
        count(lit(1)).cast("bigint").as("n_rows"),
        lit(res.nBad == 0).as("zero_rejects"),
        sum(col("total_cents")).cast("long").as("total_cents"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
        .crossJoin(widthAgg)
        .select(col("n_rows"), col("zero_rejects"), col("width_ok"),
          col("total_cents"), col("min_key"), col("max_key"))
    },

    "c01_csv_sreh" -> { (s, dir) =>
      val lines = Tables.df(s, dir, "documents")
        .select(col("doc_id"),
          concat(
            col("doc_id"), lit(","),
            when(col("doc_id") % 10 === 3, lit("notanumber"))
              .otherwise(col("n_chars").cast("string")),
            lit(","), col("lang")).as("line"))
      val parsed = lines.select(
        col("doc_id"),
        from_csv(col("line"),
          org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, n BIGINT, lang STRING, _corrupt STRING"),
          Map("mode" -> "PERMISSIVE",
            "columnNameOfCorruptRecord" -> "_corrupt")).as("r"))
      parsed.agg(
        count(when(col("r._corrupt").isNull, 1)).as("n_loaded"),
        count(when(col("r._corrupt").isNotNull, 1)).as("n_rejected"),
        (count(when(col("r._corrupt").isNotNull, 1)) * 100 <= count(lit(1)) * 15)
          .cast("int").as("within_limit"))
    },

    "c02_copy_to_sreh" -> { (s, dir) => copyToSreh(s, dir) },

    // -- columnar-format round-trip (c08): the reference's
    //    column-oriented AO storage (`src/backend/access/aocs/` — each
    //    column a separately compressed varblock stream) maps onto
    //    Spark's columnar file formats; ORC here, parquet everywhere
    //    else, both vectorized-scan + predicate-pushdown capable. The
    //    audit aggregates the ORC READ-BACK (never the source), so a
    //    value corrupted by either leg of the round-trip flips the
    //    oracle hash computed from the original parquet. --
    // -- schema evolution on read (the lakehouse ALTER TABLE ADD COLUMN
    //    analog; reference: appendonly tables accept added columns with
    //    NULL backfill, `src/backend/access/aocs/`): two parquet
    //    generations of the same table — v2 adds a column — read as ONE
    //    relation via mergeSchema, legacy rows surfacing NULL for the
    //    new column. The oracle re-derives the same relation from the
    //    base table with the generation predicate, so the check proves
    //    the union-by-name read is lossless and NULL-backfilled --
    "c10_schema_evolution" -> { (s, dir) =>
      val base = Derived.path(dir, "schema_evo")
      val orders = Tables.df(s, dir, "orders")
      orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$base/v1")
      orders.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$base/v2")
      s.read.option("mergeSchema", "true").parquet(s"$base/v1", s"$base/v2")
        .groupBy(coalesce(col("o_orderpriority"), lit("LEGACY")).as("prio"))
        .agg(count(lit(1)).as("n"),
          expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)").as("cents"))
        .orderBy(col("prio"))
    },

    "c08_orc_roundtrip" -> { (s, dir) =>
      val base = Derived.path(dir, "orc_roundtrip")
      Tables.df(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_cents"))
        .write.mode("overwrite").orc(base)
      s.read.orc(base)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")).cast("double").as("sum_qty"),
          expr("round(CAST(sum(price_cents) AS DOUBLE) / 100.0, 2)").as("sum_price"))
        .orderBy(col("l_returnflag"))
    },

    // -- c09: storage-option sweep — the AO load-perf harness analog
    //    (reference `src/test/performance/sql/ao_blocksz8192.sql` et al.:
    //    block-size 8K/32K/512K × zlib on/off over row + column AO).
    //    The same text-heavy relation writes under three parquet configs
    //    (codec × row-group size), reads back, and every config must
    //    reproduce IDENTICAL content aggregates — the lossless-storage
    //    audit; IngestSpec separately asserts the compressed footprints
    //    actually differ. Each leg is one scan → one write → one
    //    read-back aggregate; configs are independent (at scale they
    //    run as parallel jobs against the same source snapshot). --
    "c09_storage_sweep" -> { (s, dir) =>
      val src = Tables.df(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("n_chars"))
      val configs = Seq(
        ("uncompressed", 8 * 1024 * 1024),
        ("snappy", 32 * 1024 * 1024),
        ("zstd", 128 * 1024 * 1024))
      val audits = configs.map { case (codec, blockBytes) =>
        val path = Derived.path(dir, s"storage_sweep/$codec")
        src.write.mode("overwrite")
          .option("compression", codec)
          .option("parquet.block.size", blockBytes.toString)
          .parquet(path)
        s.read.parquet(path)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("n_chars")).cast("bigint").as("sum_chars"),
            min(expr("md5(text)")).as("min_md5"),
            max(expr("md5(text)")).as("max_md5"))
          .select(lit(codec).as("codec"), col("n_rows"), col("sum_chars"),
            col("min_md5"), col("max_md5"))
      }
      audits.reduce(_ unionAll _).orderBy(col("codec"))
    }
  )

  /** Writable external sink with error accounting (c02) — the write-side
    * counterpart of c01 (`COPY TO` / writable external table, reference
    * `src/backend/access/external/url_file.c` write path + cdbsreh error
    * tables). Rows that violate the sink contract (dictionary-encoded
    * lang column, max row width) divert to a reject file carrying the
    * error reason; conforming rows write to the CSV sink. The audit reads
    * BOTH files back — the counts come from the sink, not the source, so
    * a silently dropped row would fail the oracle. */
  def copyToSreh(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = Derived.path(dir, "copy_to")
    val docs = Tables.df(s, dir, "documents")
      .withColumn("err",
        when(!col("lang").isin("en", "es", "fr", "de"), lit("lang_not_in_sink_dictionary"))
          .when(col("n_chars") > 450, lit("row_too_wide")))
    docs.filter(col("err").isNull)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      .write.mode("overwrite").option("header", "true").csv(s"$base/out")
    docs.filter(col("err").isNotNull)
      .select(col("doc_id"), col("err"), col("text"))
      .write.mode("overwrite").json(s"$base/rej")
    val written = s.read.option("header", "true").csv(s"$base/out")
      .agg(count(lit(1)).as("n_written"))
    val diverted = s.read.json(s"$base/rej")
      .agg(count(lit(1)).as("n_diverted"))
    written.crossJoin(diverted)
      .select(col("n_written"), col("n_diverted"),
        (col("n_diverted") * 100 <= (col("n_written") + col("n_diverted")) * 40)
          .cast("int").as("within_limit"))
  }


  def oracle: Map[String, String] = Map(
    "c11_gzip_csv" -> """
      SELECT o_orderstatus, count(*) AS n,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
        min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "c07_csv_quoting" -> """
      SELECT i AS id,
        md5('x,"y"' || chr(10) || 'z\' || CAST(i AS VARCHAR) || chr(9) || 'end') AS payload_md5,
        CAST(1 AS INTEGER) AS roundtrip_ok
      FROM (SELECT unnest(generate_series(1, 200)) AS i) t
      ORDER BY id""",

    "c03_series_source" -> """
      SELECT i % 10 AS bucket, count(*) AS n,
             CAST(sum(i * i) AS BIGINT) AS sum_sq
      FROM generate_series(250000, 750000) t(i)
      GROUP BY 1 ORDER BY 1""",

    "c04_exec_source" -> """
      SELECT 'n' || CAST(i % 7 AS VARCHAR) AS label, count(*) AS cnt,
             CAST(sum(i) AS BIGINT) AS total
      FROM generate_series(1, 100) t(i)
      GROUP BY 1 ORDER BY 1""",

    // the served shards are the deterministic series 1..200, so the
    // oracle computes the same aggregate from generate_series
    "c05_http_source" -> """
      SELECT 'g' || CAST(i % 9 AS VARCHAR) AS label, count(*) AS cnt,
             round(CAST(sum(i * 0.25) AS DOUBLE), 2) AS total_v,
             CAST(sum(i) AS BIGINT) AS total_n
      FROM generate_series(1, 200) t(i)
      GROUP BY 1 ORDER BY 1""",

    // the roundtripped shards carry the deterministic series 1..300, so
    // the oracle recomputes the same aggregate from generate_series
    "c06_copy_binary" -> """
      WITH t AS (
        SELECT i, i * 0.5 AS v,
               CASE WHEN i % 10 = 0 THEN NULL
                    ELSE 't' || CAST(i % 4 AS VARCHAR) END AS tag
        FROM generate_series(1, 300) s(i))
      SELECT coalesce(tag, 'none') AS tag, count(*) AS cnt,
             CAST(sum(i) AS BIGINT) AS sum_i,
             round(CAST(sum(v) AS DOUBLE), 2) AS total_v
      FROM t GROUP BY 1 ORDER BY 1""",

    // the round trip is lossless by construction, so the oracle derives
    // everything from the raw slice and pins the audit booleans
    "c16_fixedwidth_out" -> """
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
        TRUE AS zero_rejects,
        TRUE AS width_ok,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
        min(o_orderkey) AS min_key,
        max(o_orderkey) AS max_key
      FROM orders WHERE o_orderkey % 10 = 4""",

    // both planted defect rules are deterministic, so the oracle audits
    // the load arithmetic and the loaded-content rollup directly
    "c15_fixedwidth" -> """
      WITH flagged AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               (o_orderkey % 10 = 7 OR o_orderkey % 100 = 51) AS bad
        FROM orders)
      SELECT
        count(CASE WHEN NOT bad THEN 1 END) AS n_loaded,
        count(CASE WHEN bad THEN 1 END) AS n_rejected,
        CAST(1 AS INTEGER) AS within_limit,
        CAST(sum(CASE WHEN NOT bad THEN cents END) AS BIGINT) AS total_cents,
        min(CASE WHEN NOT bad THEN o_orderkey END) AS min_key,
        max(CASE WHEN NOT bad THEN o_orderkey END) AS max_key
      FROM flagged""",

    // the malformed-line rule is deterministic, so the oracle audits the
    // same load arithmetic directly
    "c01_csv_sreh" -> """
      SELECT
        count(CASE WHEN doc_id % 10 <> 3 THEN 1 END) AS n_loaded,
        count(CASE WHEN doc_id % 10 = 3 THEN 1 END) AS n_rejected,
        CAST(CASE WHEN count(CASE WHEN doc_id % 10 = 3 THEN 1 END) * 100
                    <= count(*) * 15 THEN 1 ELSE 0 END AS INTEGER) AS within_limit
      FROM documents""",

    "c02_copy_to_sreh" -> """
      WITH flagged AS (
        SELECT CASE WHEN lang NOT IN ('en', 'es', 'fr', 'de') THEN 'lang_not_in_sink_dictionary'
                    WHEN n_chars > 450 THEN 'row_too_wide' END AS err
        FROM documents)
      SELECT count(CASE WHEN err IS NULL THEN 1 END) AS n_written,
             count(err) AS n_diverted,
             CAST(CASE WHEN count(err) * 100 <= count(*) * 40 THEN 1 ELSE 0 END AS INTEGER) AS within_limit
      FROM flagged""",

    // over the ORIGINAL parquet — the Spark side aggregated the ORC
    // read-back, so any round-trip corruption diverges from this
    "c10_schema_evolution" -> """
      SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'LEGACY'
                  ELSE o_orderpriority END AS prio,
        count(*) AS n,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1 ORDER BY prio""",

    "c08_orc_roundtrip" -> """
      SELECT l_returnflag, count(*) AS n,
             CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
             round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_price
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",

    // every storage config must reproduce the source aggregates exactly
    "c09_storage_sweep" -> """
      WITH codecs AS (
        SELECT unnest(['snappy', 'uncompressed', 'zstd']) AS codec),
      audit AS (
        SELECT count(*) AS n_rows,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               min(md5(text)) AS min_md5,
               max(md5(text)) AS max_md5
        FROM documents)
      SELECT codec, n_rows, sum_chars, min_md5, max_md5
      FROM codecs, audit ORDER BY codec"""
  )
}
