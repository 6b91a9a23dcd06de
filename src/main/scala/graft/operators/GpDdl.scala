package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Derived, Spool, Tables}

/** GP DDL text front-end — the `CREATE TABLE … DISTRIBUTED BY (k)
  * PARTITION BY RANGE (c) (START … END … EVERY …)` surface a Cloudberry
  * user migrates on day one (`src/backend/parser/gram.y:6610` PARTITION
  * BY, `:6652` START/END/EVERY, DISTRIBUTED BY at `:6610`'s
  * OptDistributedBy). The grammar subset is parsed from the DDL TEXT and
  * translated onto the repo's existing physical layouts:
  *
  *  - `DISTRIBUTED BY (k)`       → `bucketBy(8, k)` + `sortBy(k)` (the
  *    Bucketed.scala discipline: repartition-on-key first so each task
  *    holds exactly one bucket → one file per bucket, co-located joins
  *    with no Exchange);
  *  - `DISTRIBUTED RANDOMLY`     → no bucketing (round-robin layout);
  *  - `PARTITION BY RANGE (c) (START ('s') END ('e') EVERY (INTERVAL
  *    'k month'))` → a derived hive partition column `<c>_prt` labelled
  *    with the window start month (GP auto-generates one partition per
  *    EVERY step); START is INCLUSIVE, END is EXCLUSIVE — gram.y's
  *    defaults;
  *  - `DEFAULT PARTITION name`   → out-of-range rows route to the
  *    `name` directory; WITHOUT a default partition an out-of-range
  *    insert THROWS, exactly PG's "no partition of relation … found for
  *    row" contract.
  *
  * CREATE declares the layout; INSERT (`insertInto`) routes rows through
  * it. At 100 TB the translation result is the same physical design the
  * reference's DDL buys: equi-joins on the distribution key run
  * motion-free, and month-range scans prune directories (static + DPP) —
  * both plan-asserted in PlanShapeSpec over the ddl01 table.
  */
object GpDdl {

  case class RangePart(col: String, start: String, end: String,
      everyMonths: Int, defaultPartition: Option[String])

  case class TableDef(name: String, cols: Seq[(String, String)],
      distKeys: Seq[String], randomly: Boolean, part: Option[RangePart])

  private val CreateRe =
    """(?is)^\s*CREATE\s+TABLE\s+(\w+)\s*\((.*?)\)\s*(DISTRIBUTED\s+.*)$""".r
  private val DistByRe = """(?is)DISTRIBUTED\s+BY\s*\(([^)]*)\)""".r
  private val DistRandRe = """(?is)DISTRIBUTED\s+RANDOMLY""".r
  private val PartRe =
    """(?is)PARTITION\s+BY\s+RANGE\s*\(\s*(\w+)\s*\)\s*\((.*)\)\s*$""".r
  private val StartRe = """(?is)START\s*\(\s*'([^']*)'\s*\)(\s+INCLUSIVE)?""".r
  private val EndRe = """(?is)END\s*\(\s*'([^']*)'\s*\)(\s+EXCLUSIVE)?""".r
  private val EveryRe = """(?is)EVERY\s*\(\s*INTERVAL\s+'(\d+)\s+month[s]?'\s*\)""".r
  private val DefaultRe = """(?is)DEFAULT\s+PARTITION\s+(\w+)""".r

  /** Parse the supported gram.y subset; loud errors on anything else. */
  def parse(ddl: String): TableDef = ddl match {
    case CreateRe(name, colList, rest) =>
      val cols = colList.split(",").map(_.trim).filter(_.nonEmpty).map { c =>
        val parts = c.split("\\s+", 2)
        require(parts.length == 2, s"ddl: bad column def '$c'")
        (parts(0).toLowerCase, parts(1).toUpperCase)
      }.toSeq
      val randomly = DistRandRe.findFirstIn(rest).isDefined
      val distKeys =
        if (randomly) Seq.empty
        else DistByRe.findFirstMatchIn(rest) match {
          case Some(m) => m.group(1).split(",").map(_.trim.toLowerCase).toSeq
          case None => throw new IllegalArgumentException(
            "ddl: expected DISTRIBUTED BY (k, ...) or DISTRIBUTED RANDOMLY")
        }
      val part = PartRe.findFirstMatchIn(rest).map { m =>
        val body = m.group(2)
        val start = StartRe.findFirstMatchIn(body).getOrElse(
          throw new IllegalArgumentException("ddl: RANGE partition needs START ('…')")).group(1)
        val end = EndRe.findFirstMatchIn(body).getOrElse(
          throw new IllegalArgumentException("ddl: RANGE partition needs END ('…')")).group(1)
        val every = EveryRe.findFirstMatchIn(body).getOrElse(
          throw new IllegalArgumentException("ddl: RANGE partition needs EVERY (INTERVAL 'k month')")).group(1).toInt
        RangePart(m.group(1).toLowerCase, start, end, every,
          DefaultRe.findFirstMatchIn(body).map(_.group(1).toLowerCase))
      }
      TableDef(name.toLowerCase, cols, distKeys, randomly, part)
    case _ => throw new IllegalArgumentException(
      "ddl: expected CREATE TABLE name (cols...) DISTRIBUTED ...")
  }

  private val NumBuckets = 8

  /** The partition-routing expression for a RANGE spec: window-start
    * label for in-range rows; the default partition (or a loud error)
    * otherwise. START inclusive, END exclusive. */
  private def routeExpr(p: RangePart): org.apache.spark.sql.Column = {
    val c = p.col
    val lbl = s"""date_format(add_months(TIMESTAMP '${p.start} 00:00:00',
        (CAST(months_between(date_trunc('MONTH', $c),
          TIMESTAMP '${p.start} 00:00:00') AS INT) div ${p.everyMonths})
          * ${p.everyMonths}), 'yyyy-MM')"""
    val inRange =
      s"$c >= TIMESTAMP '${p.start} 00:00:00' AND $c < TIMESTAMP '${p.end} 00:00:00'"
    p.defaultPartition match {
      case Some(d) => expr(s"CASE WHEN $inRange THEN $lbl ELSE '$d' END")
      case None => expr(
        s"""CASE WHEN $inRange THEN $lbl
            ELSE raise_error(concat('no partition found for row: ',
                 CAST($c AS STRING))) END""")
    }
  }

  /** CREATE + INSERT: materialize the declared layout in the session
    * warehouse and route `source` through it. Returns the table name
    * (dir-tagged so SFs don't collide). Build-once per session. */
  def create(s: SparkSession, ddl: String, source: DataFrame, tag: String): String = {
    val td = parse(ddl)
    Derived.table(s, tag, td.name) { table =>
      val projected = source.select(td.cols.map(c => col(c._1)): _*)
      val routed = td.part match {
        case Some(p) => projected.withColumn(s"${p.col}_prt", routeExpr(p))
        case None => projected
      }
      var w = (if (td.distKeys.nonEmpty)
          routed.repartition(NumBuckets, td.distKeys.map(col): _*)
        else routed)
        .write.mode("overwrite").format("parquet")
      td.part.foreach(p => w = w.partitionBy(s"${p.col}_prt"))
      if (td.distKeys.nonEmpty)
        w = w.bucketBy(NumBuckets, td.distKeys.head, td.distKeys.tail: _*)
          .sortBy(td.distKeys.head, td.distKeys.tail: _*)
      w.saveAsTable(table)
    }
  }

  // ---------------------------------------------------------------
  // Dynamic tables — `CREATE DYNAMIC TABLE name SCHEDULE '<cron>' AS
  // SELECT …` (gram.y:7615-7667; createas.c:1858 creates the matview
  // plus the `gp_dynamic_table_refresh_<oid>` pg_cron task, default
  // schedule pg_task.h:76 `*/5 * * * *`). The DDL text binds onto the
  // machinery i02 already exercises: the materialization is
  // [[graft.streaming.DynamicTable]], the task is
  // [[graft.streaming.RefreshScheduler]] with the interval parsed from
  // the SCHEDULE cron text.
  // ---------------------------------------------------------------

  case class DynamicTableDef(name: String, schedule: String, selectSql: String)

  private val DynRe =
    """(?is)^\s*CREATE\s+DYNAMIC\s+TABLE\s+(\w+)(?:\s+SCHEDULE\s+'([^']+)')?\s+AS\s+(SELECT\b.*)$""".r

  /** Parse the gram.y:7615 form; SCHEDULE is optional exactly as in the
    * grammar (createas.c:1866 falls back to the 5-minute default). */
  def parseDynamicTable(ddl: String): DynamicTableDef = ddl match {
    case DynRe(name, sched, sel) =>
      DynamicTableDef(name.toLowerCase,
        Option(sched).map(_.trim).getOrElse("*/5 * * * *"), sel.trim)
    case _ => throw new IllegalArgumentException(
      "ddl: expected CREATE DYNAMIC TABLE name [SCHEDULE '<cron>'] AS SELECT ...")
  }

  private val CronEveryNMin = """\*/(\d+) \* \* \* \*""".r
  private val CronHourlyAt = """(\d+) \* \* \* \*""".r
  private val CronDailyAt = """(\d+) (\d+) \* \* \*""".r
  private val IntervalSecs = """(?i)(\d+)\s+seconds?""".r

  /** pg_cron schedule text → firing interval in ms. Supports the
    * fixed-period 5-field forms a refresh task uses (every-N-minutes,
    * hourly-at-minute, daily-at-time) plus pg_cron's 'N seconds'
    * shorthand; anything else errs loudly rather than guessing. */
  def scheduleIntervalMs(schedule: String): Long = schedule.trim match {
    case CronEveryNMin(n) => n.toLong * 60000L
    case CronHourlyAt(_) => 3600000L
    case CronDailyAt(_, _) => 86400000L
    case IntervalSecs(n) => n.toLong * 1000L
    case other => throw new IllegalArgumentException(
      s"ddl: unsupported SCHEDULE '$other'")
  }

  private val RefreshDynRe =
    """(?is)^\s*REFRESH\s+DYNAMIC\s+TABLE\s+(\w+)\s*$""".r

  /** Parse the task body createas.c:1880 generates
    * (`REFRESH DYNAMIC TABLE <name>`) — the statement the scheduled
    * task executes each firing. Returns the table name. */
  def parseRefreshDynamicTable(sql: String): String = sql match {
    case RefreshDynRe(name) => name.toLowerCase
    case _ => throw new IllegalArgumentException(
      "ddl: expected REFRESH DYNAMIC TABLE name")
  }

  /** CREATE DYNAMIC TABLE: parse the DDL and return the bound table +
    * scheduler. Materialization (WITH DATA — the grammar default) happens
    * on the caller's FIRST tick(), which plays the create-time refresh;
    * the caller drives the logical clock, as pg_cron's loop would, so
    * table.read() before any tick fails loudly on the missing path. */
  def createDynamicTable(s: SparkSession, ddl: String, tag: String)
      : (graft.streaming.DynamicTable, graft.streaming.RefreshScheduler, DynamicTableDef) = {
    val dt = parseDynamicTable(ddl)
    val table = new graft.streaming.DynamicTable(s, Derived.path(tag, s"ddl06_${dt.name}"),
      () => s.sql(dt.selectSql))
    val sched = new graft.streaming.RefreshScheduler(table,
      scheduleIntervalMs(dt.schedule))
    (table, sched, dt)
  }

  // ---------------------------------------------------------------
  // External tables — `CREATE EXTERNAL TABLE … LOCATION (…) FORMAT
  // 'CSV' (…) SEGMENT REJECT LIMIT …` (gram.y:7195): the other DDL a
  // migrating user types on day one. The translation target is the
  // existing tolerant-CSV source (CsvSreh — PERMISSIVE parse, reject
  // accounting, loud failure past the declared limit, exactly gpfdist's
  // sreh contract).
  // ---------------------------------------------------------------

  case class ExternalDef(name: String, ddlSchema: String, locations: Seq[String],
      delimiter: String, header: Boolean, rejectLimit: Option[(Long, Boolean)])

  /** Fixed-width external table (`contrib/formatter_fixedwidth/`):
    * `FORMAT 'CUSTOM' (formatter=fixedwidth_in, col='width', …)`. Cols
    * carry (name, type, width); rejectLimit is (n, isPercent). */
  case class FixedWidthDef(name: String, cols: Seq[(String, String, Int)],
      rejectLimit: Option[(Long, Boolean)]) {
    def totalWidth: Int = cols.map(_._3).sum
  }

  private val FixedRe =
    """(?is)^\s*CREATE\s+(?:READABLE\s+|WRITABLE\s+)?EXTERNAL\s+TABLE\s+(\w+)\s*\((.*?)\)\s*LOCATION\s*\(([^)]*)\)\s*FORMAT\s+'CUSTOM'\s*\(\s*formatter\s*=\s*fixedwidth_(?:in|out)\s*,([^)]*)\)(.*)$""".r

  /** Parse the fixedwidth_in DDL form. Every declared column must have
    * a width option (the formatter errs the same way); unknown widths
    * for undeclared columns err loudly too. */
  def parseFixedWidth(ddl: String): FixedWidthDef = ddl match {
    case FixedRe(name, colList, _, opts, rest) =>
      val types = colList.split(",").map(_.trim).filter(_.nonEmpty).map { c =>
        val p = c.split("\\s+", 2)
        require(p.length == 2, s"fixedwidth: bad column def '$c'")
        (p(0).toLowerCase, p(1).toUpperCase)
      }.toSeq
      val widths = opts.split(",").map(_.trim).filter(_.nonEmpty).map { o =>
        val kv = o.split("=", 2)
        require(kv.length == 2, s"fixedwidth: bad formatter option '$o'")
        kv(0).trim.toLowerCase ->
          kv(1).trim.stripPrefix("'").stripSuffix("'").toInt
      }.toMap
      val unknown = widths.keySet -- types.map(_._1).toSet
      require(unknown.isEmpty, s"fixedwidth: widths for undeclared columns $unknown")
      val cols = types.map { case (n, t) =>
        (n, t, widths.getOrElse(n, throw new IllegalArgumentException(
          s"fixedwidth: no width for column '$n'")))
      }
      val rl = RejectRe.findFirstMatchIn(rest)
        .map(m => (m.group(1).toLong, m.group(2).equalsIgnoreCase("PERCENT")))
      FixedWidthDef(name.toLowerCase, cols, rl)
    case _ => throw new IllegalArgumentException(
      "ddl: expected CREATE EXTERNAL TABLE name (cols...) LOCATION (...) " +
        "FORMAT 'CUSTOM' (formatter=fixedwidth_in, col='width', ...)")
  }

  private val ExtRe =
    """(?is)^\s*CREATE\s+(?:READABLE\s+)?EXTERNAL\s+TABLE\s+(\w+)\s*\((.*?)\)\s*LOCATION\s*\(([^)]*)\)\s*FORMAT\s+'CSV'(?:\s*\(([^)]*)\))?(.*)$""".r
  private val RejectRe =
    """(?is)SEGMENT\s+REJECT\s+LIMIT\s+(\d+)\s+(ROWS|PERCENT)""".r
  private val DelimRe = """(?is)DELIMITER\s+'([^']*)'""".r

  def parseExternal(ddl: String): ExternalDef = ddl match {
    case ExtRe(name, colList, locs, fmtOpts, rest) =>
      val schema = colList.split(",").map(_.trim).filter(_.nonEmpty).map { c =>
        val parts = c.split("\\s+", 2)
        require(parts.length == 2, s"ddl: bad column def '$c'")
        // PG type names Spark's DDL parser doesn't know
        val ty = parts(1).toUpperCase match {
          case "TEXT" => "STRING"
          case "FLOAT8" | "DOUBLE PRECISION" => "DOUBLE"
          case "INT8" => "BIGINT"
          case "INT4" => "INT"
          case other => other
        }
        s"${parts(0).toLowerCase} $ty"
      }.mkString(", ")
      val locations = locs.split(",").map(_.trim.stripPrefix("'").stripSuffix("'"))
        .filter(_.nonEmpty).toSeq
      require(locations.nonEmpty, "ddl: external table needs at least one LOCATION")
      val opts = Option(fmtOpts).getOrElse("")
      val delim = DelimRe.findFirstMatchIn(opts).map(_.group(1)).getOrElse(",")
      val header = "(?i)HEADER".r.findFirstIn(opts).isDefined
      val reject = RejectRe.findFirstMatchIn(rest).map(m =>
        (m.group(1).toLong, m.group(2).equalsIgnoreCase("PERCENT")))
      ExternalDef(name.toLowerCase, schema, locations, delim, header, reject)
    case _ => throw new IllegalArgumentException(
      "ddl: expected CREATE EXTERNAL TABLE name (cols...) LOCATION ('uri', ...) FORMAT 'CSV'")
  }

  /** Read through the declared external table: [[graft.sources.CsvSreh]]'s
    * tolerant CSV load with sreh reject accounting; a declared SEGMENT
    * REJECT LIMIT that the data exceeds throws (gpfdist's abort
    * contract). Returns (good rows, n_good, n_rejected). */
  def readExternal(s: SparkSession, ddl: String): (DataFrame, Long, Long) = {
    val ed = parseExternal(ddl)
    val r = graft.sources.CsvSreh.load(s, ed.locations.map(_.stripPrefix("file://")),
      ed.ddlSchema, ed.rejectLimit, ed.delimiter, ed.header)
    (r.good, r.nGood, r.nBad)
  }

  // ---------------------------------------------------------------
  // Partition maintenance — `ALTER TABLE … ADD/DROP/TRUNCATE/EXCHANGE
  // PARTITION` (gram.y's AlterPartitionCmd family): the lifecycle
  // statements a GP operator runs nightly. On the hive month layout
  // these are DIRECTORY operations (p05's scale argument: "older than
  // cutoff" is a directory selection, not a data filter) — DROP removes
  // the partition directory, TRUNCATE empties it, EXCHANGE swaps its
  // contents with a staged table's rows, ADD creates the (empty)
  // directory. Each touches exactly one partition's files; the rest of
  // a 100 TB table is never read.
  // ---------------------------------------------------------------

  sealed trait AlterOp { def table: String; def forValue: String }
  case class AddPart(table: String, forValue: String) extends AlterOp
  case class DropPart(table: String, forValue: String) extends AlterOp
  case class TruncatePart(table: String, forValue: String) extends AlterOp
  case class ExchangePart(table: String, forValue: String, withTable: String) extends AlterOp
  /** `SPLIT PARTITION FOR ('v') AT ('a') INTO (PARTITION p1, PARTITION
    * p2)` (gram.y:4840 AT_PartSplit): the partition holding `v` splits
    * at boundary `a` — p1 takes rows below it, p2 the rest. */
  case class SplitPart(table: String, forValue: String, atValue: String,
      firstName: String, secondName: String) extends AlterOp
  /** `RENAME PARTITION FOR ('v') TO name` (gram.y:4759 AT_PartRename):
    * pure metadata — the directory label changes, no data moves. */
  case class RenamePart(table: String, forValue: String, toName: String)
      extends AlterOp

  private val AlterDropRe =
    """(?is)^\s*ALTER\s+TABLE\s+(\w+)\s+(DROP|TRUNCATE)\s+PARTITION\s+FOR\s*\(\s*'([^']*)'\s*\)\s*$""".r
  private val AlterAddRe =
    """(?is)^\s*ALTER\s+TABLE\s+(\w+)\s+ADD\s+PARTITION\s+START\s*\(\s*'([^']*)'\s*\).*$""".r
  private val AlterExchRe =
    """(?is)^\s*ALTER\s+TABLE\s+(\w+)\s+EXCHANGE\s+PARTITION\s+FOR\s*\(\s*'([^']*)'\s*\)\s+WITH\s+TABLE\s+(\w+)\s*$""".r
  private val AlterSplitRe =
    """(?is)^\s*ALTER\s+TABLE\s+(\w+)\s+SPLIT\s+PARTITION\s+FOR\s*\(\s*'([^']*)'\s*\)\s+AT\s*\(\s*'([^']*)'\s*\)\s+INTO\s*\(\s*PARTITION\s+(\w+)\s*,\s*PARTITION\s+(\w+)\s*\)\s*$""".r
  private val AlterRenameRe =
    """(?is)^\s*ALTER\s+TABLE\s+(\w+)\s+RENAME\s+PARTITION\s+FOR\s*\(\s*'([^']*)'\s*\)\s+TO\s+(\w+)\s*$""".r

  def parseAlter(ddl: String): AlterOp = ddl match {
    case AlterDropRe(t, kind, v) =>
      if (kind.equalsIgnoreCase("DROP")) DropPart(t.toLowerCase, v)
      else TruncatePart(t.toLowerCase, v)
    case AlterExchRe(t, v, w) => ExchangePart(t.toLowerCase, v, w.toLowerCase)
    case AlterSplitRe(t, v, a, p1, p2) =>
      SplitPart(t.toLowerCase, v, a, p1.toLowerCase, p2.toLowerCase)
    case AlterRenameRe(t, v, to) => RenamePart(t.toLowerCase, v, to.toLowerCase)
    case AlterAddRe(t, v) => AddPart(t.toLowerCase, v)
    case _ => throw new IllegalArgumentException(
      s"ddl: unsupported ALTER TABLE partition statement: $ddl")
  }

  /** Apply a partition-maintenance statement to a hive-layout table at
    * `basePath` whose partition column is `partCol`; `route` maps the
    * FOR value to its partition label (the same routing CREATE used).
    * `stages` resolves EXCHANGE's staged tables. */
  def applyAlter(s: SparkSession, ddl: String, basePath: String, partCol: String,
      route: String => String, stages: Map[String, DataFrame] = Map.empty): AlterOp = {
    val op = parseAlter(ddl)
    val dirF = new java.io.File(basePath, s"$partCol=${route(op.forValue)}")
    op match {
      case _: AddPart => dirF.mkdirs()
      case _: DropPart =>
        require(dirF.exists(), s"ddl: partition for '${op.forValue}' does not exist")
        Derived.delete(dirF)
      case _: TruncatePart =>
        require(dirF.exists(), s"ddl: partition for '${op.forValue}' does not exist")
        Option(dirF.listFiles()).getOrElse(Array.empty).foreach(Derived.delete)
      case ExchangePart(_, _, w) =>
        val stage = stages.getOrElse(w, throw new IllegalArgumentException(
          s"ddl: EXCHANGE references unknown table '$w'"))
        // the staged relation becomes the partition's contents (written
        // WITHOUT the partition column — the directory name carries it)
        stage.drop(partCol).write.mode("overwrite").parquet(dirF.getAbsolutePath)
        new java.io.File(dirF, "_SUCCESS").delete()
      case RenamePart(_, _, to) =>
        require(dirF.exists(), s"ddl: partition for '${op.forValue}' does not exist")
        val target = new java.io.File(basePath, s"$partCol=$to")
        require(!target.exists(), s"ddl: partition '$to' already exists")
        require(dirF.renameTo(target), s"ddl: rename to '$to' failed")
      case sp: SplitPart =>
        throw new IllegalArgumentException(
          s"ddl: SPLIT PARTITION needs a boundary predicate — use applySplit (got $sp)")
    }
    op
  }

  /** Hidden staging prefix for SPLIT PARTITION halves: dot-prefixed, so
    * Spark's hive-layout file index never lists a half-written stage. */
  private val SplitTmpPrefix = ".graft_split_tmp."
  private val SplitSrcMarker = "_graft_split_src"

  /** Hidden tombstone prefix: the source directory is RENAMED to this
    * (one atomic rename) before its contents are deleted, so a crash
    * midway through the recursive delete can never leave a directory
    * that still answers to the source name while missing rows — the
    * partial-delete window the r13 advice flagged. Tombstone present ⇒
    * the source was safely copied into fully-written stages. */
  private val SplitRmPrefix = ".graft_split_rm."

  /** fsync a DIRECTORY so a just-written child's dirent is durable
    * (Linux semantics; best-effort — some filesystems refuse opening a
    * directory for read, in which case the wedge-safe recovery belt is
    * the remaining guarantee). */
  private def fsyncDir(dir: java.nio.file.Path): Unit =
    try {
      val ch = java.nio.channels.FileChannel.open(
        dir, java.nio.file.StandardOpenOption.READ)
      try ch.force(true) finally ch.close()
    } catch { case _: Exception => () }

  /** Hidden quarantine prefix: where a state-(b) stage is PARKED when
    * its destination name is unexpectedly occupied (a foreign directory
    * appeared under the half's name after the split's own pre-publish
    * collision check passed). Dot-prefixed, so readers never see it;
    * parked rather than require-failed, so later recoveries and splits
    * on the same base path are not wedged behind the one bad stage. */
  private val SplitQuarantinePrefix = ".graft_split_quarantine."

  /** Repair an interrupted SPLIT PARTITION. The commit protocol stages
    * both halves under hidden [[SplitTmpPrefix]] directories (each
    * carrying a marker naming its source), validates both destination
    * names are free, renames the source to a hidden [[SplitRmPrefix]]
    * tombstone, deletes the tombstone, then renames the stages into
    * place (the underscore-prefixed marker rides through the rename —
    * invisible to Spark's file index — and is deleted only AFTER a
    * successful publish). A leftover stage means one of three states:
    * (no marker) the half's parquet write itself crashed before its
    * marker was written — the tombstone rename happens strictly after
    * BOTH markers exist, so the source is intact and the stage is
    * discardable staging garbage; (a) its source still exists under
    * its own name AND has no tombstone (crash before the tombstone
    * rename) → discard the stage, the source is intact and no reader
    * ever double-counted; (b) the source is absent or tombstoned
    * (crash at/after the tombstone rename) → drop any tombstone
    * remnant and finish the publish — and if the destination name has
    * meanwhile been occupied by a foreign directory, the stage parks
    * under [[SplitQuarantinePrefix]] and the repair fails once with a
    * collision (not corruption) message, leaving later recoveries
    * unblocked. In no window can a read see source AND half together;
    * the worst case is half-invisible rows that this repair restores.
    * Called on every applySplit entry; public so GpDdlSpec can pin the
    * crash states directly. */
  def recoverInterruptedSplits(basePath: String): Int = {
    val base = new java.io.File(basePath)
    val all = Option(base.listFiles()).getOrElse(Array.empty)
    val stages = all.filter(f => f.isDirectory && f.getName.startsWith(SplitTmpPrefix))
    // Belt to the DSYNC marker write's braces: if ANY tombstone exists
    // under the base path, some source has already been retired — a
    // marker-less stage in that state could be the retired source's
    // half whose marker was lost (not mid-staging garbage), so refuse
    // the discard and wedge safely rather than silently drop rows.
    val anyTombstone = all.exists(f =>
      f.isDirectory && f.getName.startsWith(SplitRmPrefix))
    stages.foreach { tmp =>
      val marker = new java.io.File(tmp, SplitSrcMarker)
      if (!marker.exists()) {
        require(!anyTombstone,
          s"ddl: marker-less split stage ${tmp.getName} found alongside a " +
          s"tombstone — a source has been retired, so this stage may be " +
          s"its surviving half with a lost marker rather than staging " +
          s"garbage; refusing the discard (inspect and repair manually)")
        // A marker-less stage can only arise mid-staging: the half's
        // parquet write crashed BEFORE its marker was written, and the
        // tombstone rename happens strictly after BOTH markers exist —
        // so the source is still intact under its own name and the
        // stage is discardable staging garbage (the r14-advice fix:
        // this used to require-fail and wedge every later split).
        Derived.delete(tmp)
      } else {
        val srcName = new String(java.nio.file.Files.readAllBytes(marker.toPath),
          java.nio.charset.StandardCharsets.UTF_8).trim
        val src = new java.io.File(base, srcName)
        val tomb = new java.io.File(base, s"$SplitRmPrefix$srcName")
        if (src.exists() && !tomb.exists()) Derived.delete(tmp) // state (a)
        else { // state (b): complete the publish
          Derived.delete(tomb)
          val dstName = tmp.getName.stripPrefix(SplitTmpPrefix)
          val dst = new java.io.File(base, dstName)
          if (dst.exists()) {
            // Name collision, NOT corruption: something else now owns the
            // destination name (the split's own pre-publish validation
            // saw it free). Park the stage under a quarantine name so the
            // rows are preserved for inspection and later recoveries /
            // splits on this base path proceed, then fail loudly ONCE.
            var q = new java.io.File(base, s"$SplitQuarantinePrefix$dstName")
            if (q.exists()) q = new java.io.File(base,
              s"$SplitQuarantinePrefix$dstName.${System.nanoTime()}")
            require(tmp.renameTo(q),
              s"ddl: could not quarantine collided split stage ${tmp.getName}")
            throw new IllegalStateException(
              s"ddl: split half '$dstName' could not be published — the " +
              s"destination is occupied by a directory this split did not " +
              s"stage (name collision, not corruption). The staged rows " +
              s"were parked at ${q.getName}; inspect the occupant, then " +
              s"either free the name and rename the quarantined stage " +
              s"into place or discard it.")
          }
          require(tmp.renameTo(dst),
            s"ddl: could not publish interrupted split stage ${tmp.getName}")
          new java.io.File(dst, SplitSrcMarker).delete()
        }
      }
    }
    // sweep (i) markers left inside already-published halves (crash
    // after rename, before marker delete) and (ii) orphan tombstones
    // (both halves published, tombstone delete interrupted) — tombstone
    // presence implies the data is complete in the stages/halves.
    all.filter(f => f.isDirectory && !f.getName.startsWith(".")).foreach { d =>
      new java.io.File(d, SplitSrcMarker).delete()
    }
    Option(base.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(SplitRmPrefix))
      .foreach(Derived.delete)
    stages.length
  }

  /** `SPLIT PARTITION FOR ('v') AT ('a') INTO (PARTITION p1, PARTITION
    * p2)` on the hive layout: reads ONLY the source partition's
    * directory, routes its rows by `belowAt(atValue)` into two fresh
    * directories labelled by the new partition names, and removes the
    * original — the rest of the table is never read or written (the
    * one-partition's-files contract the header promises; GpDdlSpec
    * pins that the sibling directories' files are untouched).
    * Crash-safe commit: both halves are staged under hidden
    * [[SplitTmpPrefix]] names first, the source is removed, then the
    * stages rename into place — a crash at any point leaves a state
    * [[recoverInterruptedSplits]] (run on every entry) repairs, and no
    * window exists where a reader double-counts source + half. */
  def applySplit(s: SparkSession, ddl: String, basePath: String, partCol: String,
      route: String => String,
      belowAt: String => org.apache.spark.sql.Column): SplitPart = {
    val op = parseAlter(ddl) match {
      case sp: SplitPart => sp
      case other => throw new IllegalArgumentException(
        s"ddl: applySplit expects SPLIT PARTITION, got $other")
    }
    recoverInterruptedSplits(basePath)
    val srcDirName = s"$partCol=${route(op.forValue)}"
    val dirF = new java.io.File(basePath, srcDirName)
    require(dirF.exists(), s"ddl: partition for '${op.forValue}' does not exist")
    val rows = s.read.parquet(dirF.getAbsolutePath).localCheckpoint(true)
    val pred = belowAt(op.atValue)
    val stages = try Seq((op.firstName, pred), (op.secondName, !pred)).map {
      case (name, p) =>
        val tmp = new java.io.File(basePath, s"$SplitTmpPrefix$partCol=$name")
        rows.filter(p).write.mode("overwrite").parquet(tmp.getAbsolutePath)
        new java.io.File(tmp, "_SUCCESS").delete()
        // Durability: the recovery protocol's marker-less-stage discard
        // assumes the marker precedes the tombstone rename in the
        // PERSISTED order (program order is not persistence order under
        // power loss — the r15 advice finding). DSYNC forces the
        // marker's BYTES to media, and the directory fsync below forces
        // its ENTRY (a synced file an unsynced dirent still names
        // nothing). Boundary stated honestly: the staged parquet
        // part-files themselves are not fsynced — their durability
        // rides the filesystem's ordering, which is why recovery ALSO
        // refuses the marker-less discard whenever a tombstone exists
        // (the wedge-safe belt for exactly the reorderings this cannot
        // close).
        java.nio.file.Files.write(
          new java.io.File(tmp, SplitSrcMarker).toPath,
          srcDirName.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.TRUNCATE_EXISTING,
          java.nio.file.StandardOpenOption.WRITE,
          java.nio.file.StandardOpenOption.DSYNC)
        fsyncDir(tmp.toPath)
        (tmp, new java.io.File(basePath, s"$partCol=$name"))
    } finally Spool.release(rows)
    // validate BOTH destinations are free before touching the source —
    // a name collision must fail while the source is still intact and
    // the stages still carry their markers (recovery then discards the
    // stages as state (a); nothing is wedged, nothing is lost)
    stages.foreach { case (_, dst) =>
      require(!dst.exists(),
        s"ddl: split destination partition ${dst.getName} already exists")
    }
    // atomic retirement: one rename moves the source out of its name,
    // then the tombstone's contents are deleted — a crash mid-delete
    // leaves a tombstone, never a partially-emptied source directory
    val tomb = new java.io.File(basePath, s"$SplitRmPrefix$srcDirName")
    require(dirF.renameTo(tomb),
      s"ddl: could not retire source partition $srcDirName")
    Derived.delete(tomb)
    stages.foreach { case (tmp, dst) =>
      require(tmp.renameTo(dst),
        s"ddl: could not publish split partition ${dst.getName}")
      // marker rode through the rename (underscore-prefixed: invisible
      // to Spark's file index); deleted only after a successful publish
      new java.io.File(dst, SplitSrcMarker).delete()
    }
    op
  }

  // ---------------------------------------------------------------
  // Redistribution — `ALTER TABLE … SET DISTRIBUTED BY (k)` /
  // `SET DISTRIBUTED RANDOMLY` (gram.y's AlterTableCmd distributed-by
  // branch): GP's change-the-distribution-key operation, which moves
  // every row once. The translation is honest about that cost: ONE
  // repartition-by-new-key shuffle rewrites the table into the new
  // bucket layout (partitioning preserved) — after which equi-joins on
  // the NEW key run motion-free again.
  // ---------------------------------------------------------------

  private val AlterDistRe =
    """(?is)^\s*ALTER\s+TABLE\s+(\w+)\s+SET\s+DISTRIBUTED\s+BY\s*\(([^)]*)\)\s*$""".r
  private val AlterDistRandRe =
    """(?is)^\s*ALTER\s+TABLE\s+(\w+)\s+SET\s+DISTRIBUTED\s+RANDOMLY\s*$""".r

  /** Parse + apply SET DISTRIBUTED to the catalog table `resolve` maps
    * the DDL's logical name to. Rewrites through one shuffle on the new
    * keys; hive partition columns (…_prt) are preserved as partitioning. */
  def applySetDistributed(s: SparkSession, ddl: String,
      resolve: String => String): String = {
    val (logical, keys) = ddl match {
      case AlterDistRe(t, ks) =>
        (t.toLowerCase, ks.split(",").map(_.trim.toLowerCase).toSeq)
      case AlterDistRandRe(t) => (t.toLowerCase, Seq.empty[String])
      case _ => throw new IllegalArgumentException(
        s"ddl: expected ALTER TABLE t SET DISTRIBUTED BY (k, ...) | RANDOMLY, got: $ddl")
    }
    val table = resolve(logical)
    // GP semantics: ALTER to the policy the table already has is a no-op
    // (no data movement) — also what keeps repeated runs cheap
    val meta = s.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val current = meta.bucketSpec.map(_.bucketColumnNames.map(_.toLowerCase)).getOrElse(Nil)
    if (current == keys) return table
    val df = s.table(table).localCheckpoint(true)
    val partCols = df.columns.filter(_.endsWith("_prt")).toSeq
    s.sql(s"DROP TABLE $table")
    var w = (if (keys.nonEmpty) df.repartition(NumBuckets, keys.map(col): _*) else df)
      .write.mode("overwrite").format("parquet")
    partCols.foreach(p => w = w.partitionBy(p))
    if (keys.nonEmpty)
      w = w.bucketBy(NumBuckets, keys.head, keys.tail: _*).sortBy(keys.head, keys.tail: _*)
    w.saveAsTable(table)
    table
  }

  /** The ddl01 declaration: the canonical migrated-fact-table DDL —
    * hash-distributed on the order key, month-range partitioned over
    * 1997 with a default partition catching the out-of-range years. */
  val OrdersDdl: String = """
    CREATE TABLE orders_gp (
      o_orderkey BIGINT,
      o_custkey BIGINT,
      o_totalprice DOUBLE,
      o_orderdate TIMESTAMP
    )
    DISTRIBUTED BY (o_orderkey)
    PARTITION BY RANGE (o_orderdate)
    (START ('1997-01-01') INCLUSIVE END ('1998-01-01') EXCLUSIVE
     EVERY (INTERVAL '1 month'),
     DEFAULT PARTITION outliers)"""

  def ensureOrders(s: SparkSession, dir: String): String = {
    // layout reads must stay pinned for bucket-side plans (Bucketed.ensure's
    // rationale); runners restore the conf after each query
    s.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    create(s, OrdersDdl, Tables.df(s, dir, "orders"), dir)
  }

  /** Build-once CSV behind ddl02's LOCATION: orders rendered as text
    * with a deterministic malformed-cents rule (c01's discipline), so
    * the sreh accounting is oracle-checkable. */
  private def externalCsvPath(s: SparkSession, dir: String): String =
    Derived.once(dir, "ext_orders_csv", "orders") { path =>
      Tables.df(s, dir, "orders").select(concat_ws(",",
        col("o_orderkey"),
        when(col("o_orderkey") % 10 === 3, lit("notanumber"))
          .otherwise(expr("CAST(round(o_totalprice * 100) AS BIGINT)").cast("string")),
        col("o_orderstatus")).as("value"))
        .coalesce(1).write.mode("overwrite").text(path)
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- ddl02: external-table DDL text (gram.y:7195) — LOCATION +
    //    FORMAT 'CSV' + SEGMENT REJECT LIMIT parsed from the statement
    //    and translated onto the tolerant CSV source: PERMISSIVE parse,
    //    per-row reject accounting, loud abort past the declared limit
    //    (the gpfdist sreh contract; the exceeded path is spec-tested).
    //    The planted malformed rows (key % 10 = 3) reject; the load
    //    report carries both the per-status rollup of what loaded and
    //    the totals a COPY log would print --
    "ddl02_external_table" -> { (s, dir) =>
      val path = new java.io.File(externalCsvPath(s, dir)).getAbsolutePath
      val ddl = s"""CREATE READABLE EXTERNAL TABLE ext_orders (
          o_orderkey BIGINT, cents BIGINT, o_orderstatus TEXT)
        LOCATION ('file://$path')
        FORMAT 'CSV' (DELIMITER ',')
        SEGMENT REJECT LIMIT 15 PERCENT"""
      val (good, nGood, nBad) = readExternal(s, ddl)
      good.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents_sum"))
        .withColumn("n_loaded", lit(nGood))
        .withColumn("n_rejected", lit(nBad))
        .orderBy(col("o_orderstatus"))
    },
    // -- ddl03: partition-maintenance ALTER statements — a nightly
    //    lifecycle script (DROP a bad month, TRUNCATE another, EXCHANGE
    //    a restated month with its staged correction) parsed from DDL
    //    text and applied as directory operations on the month-hive
    //    layout. The scratch table rebuilds from source each run so the
    //    script is idempotent; the read-back rollup proves exactly the
    //    declared months changed and every other partition's bytes were
    //    never touched --
    "ddl03_partition_maintenance" -> { (s, dir) =>
      val base = Derived.path(dir, "ddl03_orders")
      val monthOf: String => String = d => d.substring(0, 7)
      // rebuild the scratch table (fresh every run → idempotent script);
      // scoped to the maintenance window the script touches/reports, and
      // repartitioned on the partition key so each month lands as ONE
      // file (the writer small-files discipline, IngestSpec)
      Tables.df(s, dir, "orders")
        .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
        .filter(col("o_month").between("1997-01", "1997-12"))
        .repartition(col("o_month"))
        .write.mode("overwrite").partitionBy("o_month").parquet(base)
      // staged correction: June 1997 restated at 90% of price
      val stage = Tables.df(s, dir, "orders")
        .filter(date_format(col("o_orderdate"), "yyyy-MM") === "1997-06")
        .withColumn("o_totalprice", col("o_totalprice") * 0.9)
        .withColumn("o_month", lit("1997-06"))
      applyAlter(s, "ALTER TABLE ddl03_orders DROP PARTITION FOR ('1997-02-14')",
        base, "o_month", monthOf)
      applyAlter(s, "ALTER TABLE ddl03_orders TRUNCATE PARTITION FOR ('1997-04-01')",
        base, "o_month", monthOf)
      applyAlter(s,
        "ALTER TABLE ddl03_orders EXCHANGE PARTITION FOR ('1997-06-01') WITH TABLE stage",
        base, "o_month", monthOf, Map("stage" -> stage))
      s.read.parquet(base)
        .filter(col("o_month").between("1997-01", "1997-12"))
        .groupBy(col("o_month"))
        .agg(count(lit(1)).as("n_orders"),
          expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)").as("cents"))
        .orderBy(col("o_month"))
    },

    // -- ddl07: SPLIT PARTITION — the one AlterPartitionCmd verb ddl03
    //    didn't cover (gram.y:4840 `SPLIT PARTITION <id> AT (v) INTO
    //    (PARTITION a, PARTITION b)`): June 1997 splits at mid-month
    //    into two named partitions. Directory-op scale contract: the
    //    split reads and rewrites ONLY the June directory (sibling
    //    months' files untouched — GpDdlSpec pins their file lists);
    //    the report then groups by the PARTITION LABEL, so the two
    //    halves and every untouched month are all visible to the
    //    oracle, which re-derives the labels from the raw dates --
    "ddl07_split_partition" -> { (s, dir) =>
      val base = Derived.path(dir, "ddl07_orders")
      val monthOf: String => String = d => d.substring(0, 7)
      Tables.df(s, dir, "orders")
        .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
        .filter(col("o_month").between("1997-01", "1997-12"))
        .repartition(col("o_month"))
        .write.mode("overwrite").partitionBy("o_month").parquet(base)
      applySplit(s,
        """ALTER TABLE ddl07_orders SPLIT PARTITION FOR ('1997-06-15')
           AT ('1997-06-16') INTO (PARTITION m06_h1, PARTITION m06_h2)""",
        base, "o_month", monthOf,
        at => col("o_orderdate") < expr(s"TIMESTAMP '$at 00:00:00'"))
      s.read.parquet(base)
        .groupBy(col("o_month").as("part_label"))
        .agg(count(lit(1)).as("n_orders"),
          expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)").as("cents"))
        .orderBy(col("part_label"))
    },

    // -- ddl05: VACUUM — append-optimized compaction
    //    (`src/backend/access/appendonly/vacuum_ao.c`: AO segfiles
    //    accumulate dead rows recorded in the visimap auxiliary
    //    relation (`appendonly_visimap.c`); VACUUM rewrites each
    //    segfile's VISIBLE rows into fresh compacted segfiles and swaps
    //    the relfilenode — space from deletes/aborts reclaimed without
    //    blocking readers). Spark-first: the fragmented relation is 64
    //    tiny parquet files; the visimap is the tombstone predicate;
    //    VACUUM is ONE distributed rewrite of visible rows into
    //    right-sized files (repartition(4) — the writer small-files
    //    discipline), landing in a new generation directory = the
    //    relfilenode swap. The audit reads the POST-vacuum relation:
    //    tombstoned rows gone, every visible row's cents preserved,
    //    file count 64→4 — and the oracle re-derives all counts from
    //    the source table, so a row lost or duplicated by the rewrite
    //    breaks the compare. At 100 TB: one scan + one write of the
    //    surviving fraction; untouched generations are never read --
    "ddl05_vacuum_compact" -> { (s, dir) =>
      val base = Derived.path(dir, "ddl05_orders")
      val gen2 = Derived.path(dir, "ddl05_orders_gen2")
      // build the fragmented AO relation (fresh each run → idempotent)
      Tables.df(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartition(64)
        .write.mode("overwrite").parquet(base)
      def countFiles(p: String): Long = {
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.listStatus(hp).count(_.getPath.getName.endsWith(".parquet")).toLong
      }
      // expected file count = NON-EMPTY partitions of the repartitioned
      // data (r11 advice: a hard-coded 64/4 holds only while every
      // round-robin partition is non-empty; a tiny scaling dir or a
      // writer that skips empty partitions would diverge). Deriving the
      // expectation from the observed partition row counts makes the
      // file-count contract scale-independent while still auditing the
      // writer: observed files must equal occupied partitions.
      def nonEmptyParts(df: org.apache.spark.sql.DataFrame): Long =
        df.select(spark_partition_id().as("pid")).groupBy("pid").count().count()
      val before = s.read.parquet(base)
      val nFilesBefore = countFiles(base)
      val expFilesBefore = nonEmptyParts(
        Tables.df(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          .repartition(64))
      val nBefore = before.count()
      // VACUUM: visible rows (visimap predicate) → compacted generation
      val vacuumed = before.filter(col("o_orderkey") % 97 =!= 0).repartition(4)
      vacuumed.write.mode("overwrite").parquet(gen2)
      val nFilesAfter = countFiles(gen2)
      val expFilesAfter = nonEmptyParts(vacuumed)
      s.read.parquet(gen2)
        .agg(
          count(lit(1)).as("n_rows_after"),
          expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)")
            .as("cents_after"),
          sum((col("o_orderkey") % 97 === 0).cast("long")).as("n_dead_left"))
        .select(
          lit(nFilesBefore == expFilesBefore).as("files_before_ok"),
          lit(nFilesAfter == expFilesAfter &&
              (nFilesAfter < nFilesBefore || nBefore <= 64))
            .as("files_compacted"),
          lit(nBefore).as("n_rows_before"),
          (lit(nBefore) - col("n_rows_after")).as("n_tombstones"),
          col("n_rows_after"), col("n_dead_left"), col("cents_after"))
    },

    // -- ddl06: CREATE DYNAMIC TABLE … SCHEDULE — the one GP DDL family
    //    GpDdl didn't front until r12 (r11 verdict #2): the DDL text is
    //    parsed (gram.y:7615), the SCHEDULE cron becomes the refresh
    //    interval of the pg_cron-equivalent scheduler (createas.c:1858's
    //    gp_dynamic_table_refresh task), and the materialization is the
    //    DynamicTable i02 exercises. The query drives a deterministic
    //    logical clock through the canonical tick pattern — create-time
    //    refresh, a half-interval tick that must NOT fire, an on-time
    //    firing, and a long downtime that catches up with ONE run (full
    //    re-materialization semantics) — then reads the MATERIALIZED
    //    parquet (plan-asserted: no base-table rescan), so the compare
    //    proves both the refresh result and the schedule accounting --
    "ddl06_dynamic_table_ddl" -> { (s, dir) =>
      Tables.register(s, dir)
      val (table, sched, dt) = createDynamicTable(s,
        s"""CREATE DYNAMIC TABLE order_status_rollup SCHEDULE '*/5 * * * *'
            AS $Ddl06Select""",
        dir)
      val interval = scheduleIntervalMs(dt.schedule)
      val t0 = 1700000000000L
      sched.tick(t0) // creation materializes WITH DATA (grammar default)
      sched.tick(t0 + interval / 2) // not due — must not fire
      sched.tick(t0 + interval) // due — fires
      sched.tick(t0 + 10 * interval) // downtime: ONE catch-up, not 9
      table.read()
        .withColumn("n_refreshes", lit(sched.refreshCount))
        .withColumn("interval_sec", lit(interval / 1000L))
        .orderBy(col("o_orderstatus"))
    },

    // -- ddl04: SET DISTRIBUTED BY — the key-change migration: a copy
    //    of the fact table declared DISTRIBUTED BY (o_orderkey) is
    //    redistributed onto o_custkey (one full shuffle, the honest
    //    cost), after which its join with the customer dimension —
    //    itself declared DISTRIBUTED BY (c_custkey) — runs co-located
    //    with no Exchange (plan-asserted). The rollup proves every row
    //    survived the rewrite --
    "ddl04_set_distributed" -> { (s, dir) =>
      s.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val factTbl = create(s, """
        CREATE TABLE orders_redist (
          o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
        DISTRIBUTED BY (o_orderkey)""",
        Tables.df(s, dir, "orders"), dir)
      val custTbl = create(s, """
        CREATE TABLE customer_gp (
          c_custkey BIGINT, c_mktsegment TEXT)
        DISTRIBUTED BY (c_custkey)""",
        Tables.df(s, dir, "customer"), dir)
      applySetDistributed(s,
        "ALTER TABLE orders_redist SET DISTRIBUTED BY (o_custkey)",
        _ => factTbl)
      s.table(factTbl)
        .join(s.table(custTbl), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)").as("cents"))
        .orderBy(col("c_mktsegment"))
    },

    // -- ddl01: DDL-text round trip — the declared layout answers the
    //    peak-season revenue question with partition pruning doing the
    //    data elimination (DPP via the month dim; the default partition
    //    and off-year months are never read — plan-asserted) and the
    //    bucketed layout standing by for motion-free key joins (also
    //    plan-asserted, against lineitem's DISTRIBUTED BY twin) --
    "ddl01_gp_ddl" -> { (s, dir) =>
      val tbl = ensureOrders(s, dir)
      val dim = Partitioned.monthDimTable(s, dir)
      s.table(tbl)
        .join(dim.filter(col("season") === "peak"),
          col("o_orderdate_prt") === col("m_month"))
        .groupBy(col("o_orderdate_prt").as("month"))
        .agg(count(lit(1)).as("n_orders"),
          expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)").as("cents"))
        .select(col("month"), col("n_orders"),
          round(col("cents").cast("double") / 100.0, 2).as("revenue"))
        .orderBy(col("month"))
    }
  )

  /** ddl06's definition query — ONE text, run by Spark as the refresh
    * body and by DuckDB as the oracle's base expression. */
  private val Ddl06Select = """
    SELECT o_orderstatus, count(*) AS n_orders,
      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders GROUP BY o_orderstatus"""

  def oracle: Map[String, String] = Map(
    // the refresh result re-derived from the base table, plus the pinned
    // schedule accounting: 4 ticks at (t0, +½T, +T, +10T) fire exactly 3
    // refreshes under pg_cron catch-up semantics, T = 5 min
    "ddl06_dynamic_table_ddl" -> s"""
      SELECT o_orderstatus, n_orders, cents,
        CAST(3 AS BIGINT) AS n_refreshes,
        CAST(300 AS BIGINT) AS interval_sec
      FROM ($Ddl06Select) t
      ORDER BY o_orderstatus""",
    // redistribution preserves content: the rollup equals the raw join
    "ddl05_vacuum_compact" -> """
      SELECT TRUE AS files_before_ok,
        TRUE AS files_compacted,
        CAST(count(*) AS BIGINT) AS n_rows_before,
        CAST(sum(CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_tombstones,
        CAST(sum(CASE WHEN o_orderkey % 97 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_rows_after,
        CAST(0 AS BIGINT) AS n_dead_left,
        CAST(sum(CASE WHEN o_orderkey % 97 <> 0
                 THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END)
          AS BIGINT) AS cents_after
      FROM orders""",

    "ddl04_set_distributed" -> """
      SELECT c_mktsegment, count(*) AS n_orders,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    // the maintenance script's effects re-derived from the raw table:
    // Feb dropped, Apr truncated (both vanish from the rollup), Jun
    // restated at 90%, every other 1997 month untouched
    // the split boundary is deterministic, so the oracle re-derives the
    // partition labels (two June halves, untouched months verbatim)
    "ddl07_split_partition" -> """
      SELECT CASE WHEN strftime(o_orderdate, '%Y-%m') = '1997-06'
                  THEN CASE WHEN o_orderdate < TIMESTAMP '1997-06-16 00:00:00'
                            THEN 'm06_h1' ELSE 'm06_h2' END
                  ELSE strftime(o_orderdate, '%Y-%m') END AS part_label,
        count(*) AS n_orders,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders
      WHERE strftime(o_orderdate, '%Y-%m') BETWEEN '1997-01' AND '1997-12'
      GROUP BY 1 ORDER BY part_label""",

    "ddl03_partition_maintenance" -> """
      SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
        count(*) AS n_orders,
        CAST(sum(CAST(round(CASE WHEN strftime(o_orderdate, '%Y-%m') = '1997-06'
                                 THEN o_totalprice * 0.9 ELSE o_totalprice END * 100)
                 AS BIGINT)) AS BIGINT) AS cents
      FROM orders
      WHERE strftime(o_orderdate, '%Y-%m') BETWEEN '1997-01' AND '1997-12'
        AND strftime(o_orderdate, '%Y-%m') NOT IN ('1997-02', '1997-04')
      GROUP BY 1 ORDER BY 1""",

    // the malformed rule is deterministic, so the oracle re-derives both
    // the surviving rollup and the reject accounting from the raw table
    "ddl02_external_table" -> """
      WITH src AS (
        SELECT o_orderkey, o_orderstatus,
          CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders),
      tot AS (
        SELECT count(CASE WHEN o_orderkey % 10 <> 3 THEN 1 END) AS n_loaded,
               count(CASE WHEN o_orderkey % 10 = 3 THEN 1 END) AS n_rejected
        FROM src)
      SELECT o_orderstatus, count(*) AS n_rows,
        CAST(sum(cents) AS BIGINT) AS cents_sum,
        CAST(t.n_loaded AS BIGINT) AS n_loaded,
        CAST(t.n_rejected AS BIGINT) AS n_rejected
      FROM src CROSS JOIN tot t
      WHERE o_orderkey % 10 <> 3
      GROUP BY o_orderstatus, t.n_loaded, t.n_rejected
      ORDER BY o_orderstatus""",

    // re-derives the routed partition labels from the raw table: peak
    // months are the dim's 1997-06..08; out-of-1997 rows land in the
    // default partition and can never match a month label
    "ddl01_gp_ddl" -> """
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
        count(*) AS n_orders,
        round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS revenue
      FROM orders
      WHERE strftime(o_orderdate, '%Y-%m') IN ('1997-06', '1997-07', '1997-08')
      GROUP BY 1 ORDER BY 1"""
  )
}
