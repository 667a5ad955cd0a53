package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** The filesystem seam for every lakehouse metadata operation —
  * manifest file listings, vacuum deletes, pin-expiry existence
  * checks, compaction file censuses. All of them are
  * metadata-cardinality driver work, but reaching for `java.io.File`
  * couples them to a local disk; routing through Hadoop's
  * [[FileSystem]] keeps the SAME code working against HDFS/S3A/GCS —
  * the deployment surface a 100 TB table actually lives on — because
  * the scheme-appropriate implementation is resolved from the path
  * and the active session's Hadoop configuration (local paths resolve
  * to the local FS in this sandbox; a production job only changes the
  * path prefix). Every method here is one RPC-shaped call per file or
  * directory: nothing lists or stats at data cardinality.
  */
object GraftFs {
  private def hadoopConf: Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(NioLocalFs.defaultHadoopConf())

  private def fsFor(p: Path): FileSystem = p.getFileSystem(hadoopConf)

  /** Names of the parquet data files directly under `dir` (empty if
    * the dir does not exist) — the census a compaction or manifest
    * job reports.
    */
  def listDataFiles(dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = fsFor(p)
    if (!fs.exists(p)) Seq.empty
    else
      fs.listStatus(p)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.getName)
        .toSeq
  }

  def exists(path: String): Boolean = {
    val p = new Path(path)
    fsFor(p).exists(p)
  }

  /** Non-recursive single-file delete — the vacuum verb. Returns
    * whether the file existed.
    */
  def delete(path: String): Boolean = {
    val p = new Path(path)
    fsFor(p).delete(p, false)
  }

  /** Last-modified wall-clock millis of a file — vacuum's grace-period
    * input (one getFileStatus RPC). 0 if the file is gone (a
    * concurrent delete: the caller treats it as already reclaimed).
    */
  def modificationTime(path: String): Long = {
    val p = new Path(path)
    try fsFor(p).getFileStatus(p).getModificationTime
    catch { case _: java.io.FileNotFoundException => 0L }
  }

  /** On-disk byte size of a file — recorded into each commit's
    * [[ManifestLog.FileStats]] at write time (one getFileStatus RPC
    * per staged file) so scan planning can report exact statistics
    * without re-stating. 0 if the file is gone.
    */
  def fileLength(path: String): Long = {
    val p = new Path(path)
    try fsFor(p).getFileStatus(p).getLen
    catch { case _: java.io.FileNotFoundException => 0L }
  }

  /** Same-filesystem move — the partitioned write's publish step
    * (staged part files move under the table's `<col>=<value>` dirs).
    * NOT a CAS: callers guarantee collision-free destinations (Spark
    * part-file names carry a per-job UUID). One namespace op.
    */
  def rename(src: String, dst: String): Boolean = {
    val s = new Path(src)
    fsFor(s).rename(s, new Path(dst))
  }

  def mkdirs(path: String): Unit = {
    val p = new Path(path)
    fsFor(p).mkdirs(p)
    ()
  }

  /** Last path segment — the scheme-agnostic basename (testdata dirs
    * are keyed by their `sfX` leaf).
    */
  def baseName(path: String): String = new Path(path).getName

  /** Names of ALL plain files directly under `dir` (empty if absent) —
    * the durable manifest log's entry census. One listStatus RPC.
    */
  def listFiles(dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = fsFor(p)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isFile).map(_.getPath.getName).toSeq
  }

  /** Names of the directories directly under `dir` (empty if absent)
    * — the manifest catalog's table listing.
    */
  def listDirs(dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = fsFor(p)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSeq
  }

  /** Recursive delete — DROP TABLE on a manifest table (its data,
    * staging dirs, and log go together). Returns whether it existed.
    */
  def deleteRecursive(path: String): Boolean = {
    val p = new Path(path)
    fsFor(p).delete(p, true)
  }

  /** Whole-file read — manifest entries are metadata-sized (a handful
    * of file names and longs), never data.
    */
  def readBytes(path: String): Array[Byte] = {
    val p = new Path(path)
    val in = fsFor(p).open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toByteArray
    } finally in.close()
  }

  // Same-JVM serialization for createExclusive: two log instances in
  // one driver (the test/bench shape) must see an airtight CAS even
  // on a local FS whose create(overwrite=false) is check-then-act.
  private val exclusiveGate = new Object

  /** CREATE-FAILS-IF-EXISTS write — the durable manifest log's
    * compare-and-set. Returns true iff this call published the file.
    *
    * Publication is WRITE-TEMP-THEN-LINK/RENAME (the Delta LogStore
    * protocol): the bytes land under a dot-prefixed temp name first,
    * then one atomic namespace op makes the final name visible — so a
    * concurrent LISTER can never observe the entry name with partial
    * content (a direct create-and-write exposes the name before the
    * bytes are flushed; a reader racing it would misread a healthy
    * in-flight commit as a torn tail and clobber it).
    *
    * The namespace op is scheme-dependent, because the failure mode
    * differs:
    *   - LOCAL filesystems: `FileSystem.rename` delegates to
    *     rename(2), which silently REPLACES an existing destination —
    *     it is NOT a CAS. Publication instead uses a HARD LINK
    *     (`Files.createLink(final, tmp)`), which the kernel fails
    *     atomically with EEXIST if the destination exists — a true
    *     cross-process compare-and-set on POSIX (proved by
    *     GraftFsCrossProcessSpec's two-JVM race, which FAILS under
    *     rename-based publication).
    *   - HDFS: rename is a single namenode op that fails if the
    *     destination exists — the canonical HDFSLogStore CAS.
    *   - Object stores (S3/GCS) need a conditional PUT
    *     (If-None-Match); plain rename there is copy+delete and NOT
    *     exclusive. This seam does not claim them: deploying the log
    *     on an object store requires substituting a conditional-PUT
    *     implementation here.
    * Same-process racers are additionally serialized through a
    * JVM-wide gate — cheap, since entries are metadata-sized.
    */
  def createExclusive(path: String, bytes: Array[Byte]): Boolean = exclusiveGate.synchronized {
    val p = new Path(path)
    val fs = fsFor(p)
    if (fs.exists(p)) return false
    val tmp = new Path(p.getParent, s".${p.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = fs.create(tmp, false)
    try out.write(bytes)
    finally out.close()
    val ok =
      if (isLocal(fs)) linkPublish(tmp, p)
      else
        try fs.rename(tmp, p)
        catch { case _: java.io.IOException => false }
    if (!ok || isLocal(fs)) {
      fs.delete(tmp, false)
      ()
    }
    ok
  }

  private def isLocal(fs: FileSystem): Boolean =
    fs.getUri.getScheme == "file"

  /** Atomic local publish: hard-link the temp file to the final name.
    * link(2) fails with EEXIST if the destination exists — unlike
    * rename(2), which replaces it — so two processes racing the same
    * entry number get exactly one winner. The temp link is removed by
    * the caller either way (link success leaves both names pointing at
    * the same inode; deleting the temp name keeps the published one).
    */
  private def linkPublish(tmp: Path, dst: Path): Boolean = {
    // resolve through the Hadoop path to the raw local file (strips
    // any file:// scheme); ChecksumFileSystem's shadow .crc for the
    // temp file is cleaned up with the temp delete
    val rawTmp = java.nio.file.Paths.get(tmp.toUri.getPath)
    val rawDst = java.nio.file.Paths.get(dst.toUri.getPath)
    try {
      java.nio.file.Files.createLink(rawDst, rawTmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: java.io.IOException                      => false
    }
  }
}
