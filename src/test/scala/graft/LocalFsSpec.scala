package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.local.{LocalFs => HadoopLocalFs}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

/** graft.LocalFs against Hadoop's stock local filesystem, both under one
  * umask: same modes, same link statuses, same rename semantics.
  */
class LocalFsSpec extends AnyFunSuite {

  private val umask = "027"

  private def conf(graft: Boolean): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    if (graft) LocalFs.hadoopConf.foreach { case (k, v) => c.set(k, v) }
    else {
      c.set("fs.file.impl", classOf[LocalFileSystem].getName)
      c.set("fs.AbstractFileSystem.file.impl", classOf[HadoopLocalFs].getName)
    }
    c
  }

  /** An uncached FileSystem for the conf's `file:` class. */
  private def fs(graft: Boolean): FileSystem =
    FileSystem.newInstance(URI.create("file:///"), conf(graft))

  private def octal(s: String): Int = Integer.parseInt(s, 8)
  private def perm(s: String) = new FsPermission(octal(s).toShort)

  /** The full mode, sticky bit included. */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x3ff

  private def both[T](body: (Boolean, java.nio.file.Path) => T): (T, T) = {
    val root = Files.createTempDirectory("graft_localfs_")
    def run(graft: Boolean) = {
      val d = root.resolve(if (graft) "graft" else "stock")
      Files.createDirectories(d)
      body(graft, d)
    }
    (run(graft = false), run(graft = true))
  }

  test("created files, directories and .crc files get the stock modes") {
    val (stock, graft) = both { (g, d) =>
      val f = fs(g)
      try {
        val base = new Path(d.toUri)
        f.mkdirs(new Path(base, "a/b/c"))
        f.create(new Path(base, "a/b/c/part")).close()
        f.create(new Path(base, "explicit"), perm("640"), true,
          4096, 1.toShort, 1L << 20, null).close()
        f.setPermission(new Path(base, "a/b"), perm("1751"))
        f.setPermission(new Path(base, "a/b/c/part"), perm("604"))
        Seq("a", "a/b", "a/b/c", "a/b/c/part", "a/b/c/.part.crc", "explicit", ".explicit.crc")
          .map(r => r -> mode(d.resolve(r)))
      } finally f.close()
    }
    assert(graft == stock)
    assert(stock.toMap.apply("a/b") == octal("1751")) // sticky bit kept
    assert(stock.toMap.apply("a/b/c") == octal("750")) // umask 027 applied
  }

  test("checkpoint files written through FileContext get the stock modes") {
    val (stock, graft) = both { (g, d) =>
      val base = new Path(d.toUri)
      val fm = CheckpointFileManager.create(base, conf(g))
      fm.mkdirs(new Path(base, "offsets"))
      val out = fm.createAtomic(new Path(base, "offsets/0"), false)
      out.write(1); out.close()
      Seq("offsets", "offsets/0", "offsets/.0.crc").map(r => r -> mode(d.resolve(r)))
    }
    assert(graft == stock)
  }

  private def linkStatus(f: FileSystem, p: Path): Either[String, (Boolean, Boolean, Long, String, String)] =
    try {
      val s: FileStatus = f.getFileLinkStatus(p)
      Right((s.isSymlink, s.isDirectory, s.getLen, s.getPath.toUri.getPath,
        if (s.isSymlink) s.getSymlink.toUri.getPath else ""))
    } catch { case e: FileNotFoundException => Left(e.getClass.getSimpleName) }

  test("getFileLinkStatus: file, symlink, dangling symlink and missing path") {
    val (stock, graft) = both { (g, d) =>
      Files.write(d.resolve("file"), "abc".getBytes)
      Files.createSymbolicLink(d.resolve("link"), d.resolve("file"))
      Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
      val f = fs(g)
      try Seq("file", "link", "dangling", "missing").map { r =>
        val p = new Path(d.resolve(r).toString)
        r -> linkStatus(f, p).map(t => t.copy(_4 = Paths.get(t._4).getFileName.toString,
          _5 = if (t._5.isEmpty) "" else Paths.get(t._5).getFileName.toString))
      } finally f.close()
    }
    assert(graft == stock)
    val s = stock.toMap
    assert(s("file") == Right((false, false, 3L, "file", "")))
    assert(s("link").exists(_._1), "stock sees the symlink")
    assert(s("missing") == Left("FileNotFoundException"))
  }

  test("createAtomic without overwrite onto an existing file throws in both") {
    val (stock, graft) = both { (g, d) =>
      val base = new Path(d.toUri)
      val fm = CheckpointFileManager.create(base, conf(g))
      def write(b: Int): Unit = {
        val out = fm.createAtomic(new Path(base, "commits_0"), false)
        out.write(b); out.close()
      }
      write(1)
      val err = try { write(2); None } catch { case e: java.io.IOException => Some(e.getClass.getSimpleName) }
      (err, Files.readAllBytes(d.resolve("commits_0")).toSeq)
    }
    assert(graft == stock)
    assert(stock == (Some("FileAlreadyExistsException"), Seq(1.toByte)))
  }

  test("a session built by GraftSession resolves file: to the graft classes") {
    val hc = SharedSpark.spark.sessionState.newHadoopConf()
    val f = FileSystem.newInstance(URI.create("file:///"), hc)
    try {
      assert(f.isInstanceOf[GraftLocalFileSystem])
      assert(f.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[GraftRawLocalFileSystem])
    } finally f.close()
    assert(FileContext.getFileContext(URI.create("file:///"), hc)
      .getDefaultFileSystem.isInstanceOf[GraftLocalFs])
  }
}
