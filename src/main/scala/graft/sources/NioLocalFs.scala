package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver, FsConstants, FsServerDefaults}
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local `file:` filesystem without a child process per call.
  *
  * Without libhadoop (Spark's distribution ships none),
  * `RawLocalFileSystem.setPermission` runs `chmod` through
  * `Shell.execCommand` for every file or directory created with a
  * permission, and `getFileLinkStatus` — which FileContext renames
  * (Spark's checkpoint file manager) call — runs `readlink`. This
  * subclass does both through `java.nio`: permissions with
  * `Files.setPosixFilePermissions` (the sticky bit, which it cannot
  * express, still goes to `chmod`), and link statuses with
  * `Files.readSymbolicLink`. A non-link's link status is its plain
  * `getFileStatus`, which is what the stock path returns once
  * `readlink` prints nothing; a link's carries the stock path's fields
  * (the target's status, or a zero-length one for a dangling target).
  * Unlike the stock path, which runs `readlink` on the literal path
  * string, this resolves `file:`-qualified paths too.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, NioLocalFs.posixPermissions(permission))

  override def getFileLinkStatus(f: Path): FileStatus = {
    val local = pathToFile(f).toPath
    if (!Files.isSymbolicLink(local)) getFileStatus(f)
    else {
      val target = new Path(Files.readSymbolicLink(local).toString)
      val st =
        try {
          val to = getFileStatus(f)
          new FileStatus(to.getLen, false, to.getReplication, to.getBlockSize, to.getModificationTime,
            to.getAccessTime, to.getPermission, to.getOwner, to.getGroup, target, f)
        } catch {
          case _: FileNotFoundException =>
            new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
        }
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, f, target))
      st
    }
  }
}

/** `fs.file.impl`: the checksummed [[LocalFileSystem]] over
  * [[NioRawLocalFileSystem]] (`FileSystem.getLocal` casts to
  * `LocalFileSystem`).
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (FileContext): Hadoop's
  * `local.LocalFs` over [[NioRawLocalFs]].
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `local.RawLocalFs` over [[NioRawLocalFileSystem]], with its
  * overrides (its constructors are package-private and fix the
  * delegate); symlinks delegate to the FileSystem as they do there.
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

object NioLocalFs {

  /** The Hadoop settings that select these classes for `file:`. The
    * FileSystem cache is keyed by scheme, authority and user, not by
    * configuration, so the first `file:` instance a JVM creates decides:
    * every Configuration the engine builds carries them.
    */
  val HadoopConf: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName
  )

  /** A default Hadoop Configuration with [[HadoopConf]] set. */
  def defaultHadoopConf(): Configuration = {
    val conf = new Configuration()
    HadoopConf.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  /** The 9 rwx bits of `p` (PosixFilePermission declares them from
    * owner-read, 0400, down to others-execute, 0001).
    */
  private[sources] def posixPermissions(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((p.toShort & (0x100 >> i)) != 0) out.add(perm)
    }
    out
  }
}
