package graft.sources

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpec

class NioLocalFsSpec extends SparkSpec {

  private def open(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  /** Every status field but the path, which keeps the form it was asked with. */
  private def fields(st: FileStatus) =
    (st.isFile, st.isDirectory, st.isSymlink, st.getLen, st.getModificationTime, st.getAccessTime,
      st.getPermission, st.getOwner, st.getGroup, if (st.isSymlink) Some(st.getSymlink) else None)

  test("nio local FS: permissions and link statuses equal the stock local FS's") {
    val (stock, nio) = (open(new RawLocalFileSystem), open(new NioRawLocalFileSystem))
    val root = Files.createTempDirectory("graft-niofs")
    val dir = Files.createDirectory(root.resolve("dir"))
    val file = Files.write(dir.resolve("f"), Array[Byte](1, 2, 3))
    val link = Files.createSymbolicLink(root.resolve("link"), file)
    val dirLink = Files.createSymbolicLink(root.resolve("dirlink"), dir)
    val dangling = Files.createSymbolicLink(root.resolve("dangling"), root.resolve("missing"))
    try {
      for (mode <- Seq("755", "700", "640", "604", "777", "1777")) {
        val perm = new FsPermission(mode)
        val pair = Seq(stock, nio).map { fs =>
          val p = new Path(root.resolve(s"p$mode-${fs.getClass.getSimpleName}").toUri)
          fs.mkdirs(p)
          fs.setPermission(p, perm)
          stock.getFileStatus(p).getPermission // read with `ls`: the sticky bit too
        }
        assert(pair === Seq(perm, perm), mode)
      }
      // bare and `file:`-qualified paths both get the stock status of the
      // bare path (the stock readlink sees no link behind a qualified one)
      for (q <- Seq(dir, file, link, dirLink, dangling)) {
        val expected = fields(stock.getFileLinkStatus(new Path(q.toString)))
        for (p <- Seq(new Path(q.toString), new Path(q.toUri)))
          assert(fields(nio.getFileLinkStatus(p)) === expected, p)
      }
      for (q <- Seq(link, dirLink, dangling))
        assert(nio.getFileLinkStatus(new Path(q.toUri)).isSymlink, q)
      val missing = new Path(root.resolve("missing").toUri)
      intercept[FileNotFoundException](nio.getFileLinkStatus(missing))
      intercept[IOException](nio.setPermission(missing, new FsPermission("644")))
    } finally stock.delete(new Path(root.toUri), true)
  }

  test("the session's file: FileSystem and FileContext use the nio local FS") {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path("file:///").getFileSystem(conf)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
    val afs = FileContext.getFileContext(URI.create("file:///"), conf).getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs], afs.getClass)
  }
}
