package graft

import org.apache.spark.sql.SparkSession

/** The one storage lifecycle of derived data (Cloudberry's catalog and
  * storage layer for partitioned, `DISTRIBUTED BY` and matview relations):
  * every build-once table and scratch directory the operators write.
  *  - Files live under `target/derived/<tag>/<name>`; the SF-dir tag keeps
  *    sf0.001 tests and sf0.01 verification apart.
  *  - A build-once directory is reused only while it holds `_SUCCESS` and
  *    its [[FingerprintFile]] matches the source tables; else it is rebuilt.
  *  - Catalog tables are per JVM (the in-memory catalog dies with it).
  * `rm -rf target/derived spark-warehouse` resets all of it.
  */
object Derived {
  val Root = "target/derived"

  /** The source tables' [[fingerprint]], beside `_SUCCESS`; Spark's file
    * listing skips it like `_SUCCESS`. */
  val FingerprintFile = "_SOURCE_FINGERPRINT"

  def tag(sf: String): String = sf.replaceAll("[^A-Za-z0-9.]", "_")

  /** `target/derived/<tag>/<name>`. */
  def path(sf: String, name: String): String = s"$Root/${tag(sf)}/$name"

  /** `target/derived/<name>`, for scratch shared by every SF. */
  def path(name: String): String = s"$Root/$name"

  /** A catalog table's name: `<base>_<tag>`, dots replaced too. */
  def tableName(base: String, sf: String): String =
    s"${base}_${tag(sf).replace(".", "_")}"

  /** Build-once directory `path(sf, name)` from the SF's `sources`
    * tables: runs `write` on the path unless it is complete and fresh,
    * then returns the path. */
  def once(sf: String, name: String, sources: String*)(write: String => Unit): String =
    onceAll(sf, Seq(name), sources: _*)(ps => write(ps.head)).head

  /** [[once]] for a step that writes several directories: all of them
    * are rebuilt together unless every one is complete and fresh. */
  def onceAll(sf: String, names: Seq[String], sources: String*)(
      write: Seq[String] => Unit): Seq[String] = {
    val paths = names.map(path(sf, _))
    val fp = fingerprint(sources.map(t => new java.io.File(s"$sf/$t.parquet")))
    def fresh(p: String): Boolean = {
      val f = new java.io.File(p, FingerprintFile)
      new java.io.File(p, "_SUCCESS").exists() && f.exists() &&
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8") == fp
    }
    if (!paths.forall(fresh)) {
      paths.foreach(p => delete(new java.io.File(p)))
      write(paths)
      paths.foreach(p => java.nio.file.Files.write(
        new java.io.File(p, FingerprintFile).toPath, fp.getBytes("UTF-8")))
    }
    paths
  }

  /** Build-once catalog table `tableName(base, sf)`: runs `create` on the
    * name unless the catalog has it, first clearing a managed location
    * an earlier JVM left behind, so the CREATE succeeds. */
  def table(s: SparkSession, sf: String, base: String)(create: String => Unit): String = {
    val name = tableName(base, sf)
    if (!s.catalog.tableExists(name)) {
      val wh = new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath
      delete(new java.io.File(wh, name.toLowerCase))
      create(name)
    }
    name
  }

  /** Recursive delete; a missing path is a no-op, and a symlink is
    * removed without following it. */
  def delete(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).getOrElse(Array.empty).foreach(delete)
    f.delete()
  }

  /** 64-bit FNV-1a over the name, mtime and length of each source file
    * or part-file directory entry, and each parquet footer (the last
    * ≤ 64 KiB, whose statistics change with the content: (mtime, length)
    * alone collide for a same-length rewrite within one millisecond). */
  private def fingerprint(sources: Seq[java.io.File]): String = {
    var h = 0xcbf29ce484222325L
    def mix(b: Long): Unit = { h ^= b; h *= 0x100000001b3L }
    def footer(f: java.io.File): Unit = {
      val in = new java.io.RandomAccessFile(f, "r")
      try {
        val n = math.min(f.length, 65536L).toInt
        in.seek(f.length - n)
        val buf = new Array[Byte](n)
        in.readFully(buf)
        buf.foreach(b => mix(b & 0xffL))
      } finally in.close()
    }
    def walk(f: java.io.File): Unit = {
      f.getName.foreach(c => mix(c.toLong))
      mix(f.lastModified); mix(f.length)
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName).foreach(walk)
      else if (f.getName.endsWith(".parquet") && f.length > 0) footer(f)
    }
    sources.foreach { src =>
      // a missing source would fingerprint as (0, 0) and the step would
      // build from an empty read: fail fast instead
      require(src.exists, s"Derived: no source ${src.getPath}")
      walk(src)
    }
    f"$h%016x"
  }
}
