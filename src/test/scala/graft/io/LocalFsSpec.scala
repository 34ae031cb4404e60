package graft.io

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext,
  FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.io.nativeio.NativeIO
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** The fork-free `file:` binding keeps the stock local filesystem's
  * observable behaviour — mode bits, checksum sidecars, the rename rule,
  * link status — and starts no process doing it. */
class LocalFsSpec extends AnyFunSuite {

  private val root = URI.create("file:///")

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def hadoopConf(umask: Option[String],
      fileContextImpl: Option[String] = None): Configuration = {
    val c = new Configuration()
    umask.foreach(c.set("fs.permissions.umask-mode", _))
    fileContextImpl.foreach(c.set("fs.AbstractFileSystem.file.impl", _))
    c
  }

  private def initialized(fs: FileSystem, conf: Configuration): FileSystem = {
    fs.initialize(root, conf)
    fs
  }

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & octal("7777")

  /** relative path → mode bits of everything under `dir` */
  private def modes(dir: String): Map[String, Int] = {
    val base = Paths.get(dir)
    val s = Files.walk(base)
    try s.iterator.asScala.filter(_ != base)
      .map(p => base.relativize(p).toString -> mode(p)).toMap
    finally s.close()
  }

  private def write(out: java.io.OutputStream, s: String): Unit =
    try out.write(s.getBytes(UTF_8)) finally out.close()

  private def read(p: String): String =
    new String(Files.readAllBytes(Paths.get(p)), UTF_8)

  /** `create` into new nested dirs, nested `mkdirs`, a link-status
    * lookup, and a `FileContext` create + rename with OVERWRITE onto an
    * existing file (a streaming checkpoint's commit). */
  private def exercise(fs: FileSystem, fc: FileContext, dir: String): Unit = {
    write(fs.create(new Path(s"$dir/a/b/file")), "x")
    fs.mkdirs(new Path(s"$dir/m/n/o"))
    fs.getFileLinkStatus(new Path(s"$dir/a/b/file"))
    val flags = java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)
    write(fc.create(new Path(s"$dir/ckpt/.1.tmp"), flags,
      Options.CreateOpts.createParent()), "1")
    write(fc.create(new Path(s"$dir/ckpt/1"), flags,
      Options.CreateOpts.createParent()), "old")
    fc.rename(new Path(s"$dir/ckpt/.1.tmp"), new Path(s"$dir/ckpt/1"),
      Options.Rename.OVERWRITE)
  }

  /** command lines of the processes this thread started while `body` ran */
  private def forks(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("forks", ".jfr")
    try {
      rec.dump(dump)
      val me = Thread.currentThread.getId
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(e => e.getEventType.getName == "jdk.ProcessStart" &&
          e.getThread != null && e.getThread.getJavaThreadId == me)
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  for (umask <- Seq(None, Some("077"))) {
    val label = umask.fold("the default umask")(u => s"umask $u")

    test(s"create, mkdirs and FileContext create + rename leave the stock " +
        s"mode bits under $label") {
      // the same calls, plus both filesystems' mkdirs and create under a
      // set-group-ID directory (numeric chmod keeps that bit on dirs)
      def run(fs: FileSystem, fc: FileContext, dir: String): Unit = {
        exercise(fs, fc, dir)
        val sg = Paths.get(s"$dir/sg")
        Files.createDirectory(sg)
        Files.setAttribute(sg, "unix:mode", Integer.valueOf(octal("2755")))
        fs.mkdirs(new Path(s"$dir/sg/sub/deeper"))
        write(fs.create(new Path(s"$dir/sg/sub/file")), "y")
      }
      val stockDir = tmp("stock-fs")
      run(initialized(new LocalFileSystem(), hadoopConf(umask)),
        FileContext.getFileContext(root, hadoopConf(umask)), stockDir)
      val graftDir = tmp("graft-fs")
      run(initialized(new GraftLocalFileSystem, hadoopConf(umask)),
        FileContext.getFileContext(root,
          hadoopConf(umask, Some(classOf[GraftLocalFs].getName))), graftDir)
      val want = modes(stockDir)
      assert(want.contains("a/b/.file.crc") && want.contains("ckpt/.1.crc"))
      assert((want("sg/sub/deeper") & octal("2000")) != 0) // set-group-ID kept
      assert(modes(graftDir) === want)
      assert(read(s"$graftDir/ckpt/1") === "1")
    }

    test(s"the graft filesystems fork no process under $label") {
      val fs = initialized(new GraftLocalFileSystem, hadoopConf(umask))
      val fc = FileContext.getFileContext(root,
        hadoopConf(umask, Some(classOf[GraftLocalFs].getName)))
      // once unrecorded: class initialization may fork once per JVM
      // (Hadoop's Shell probes for setsid)
      exercise(fs, fc, tmp("graft-warm"))
      assert(forks(exercise(fs, fc, tmp("graft-forks"))) === Nil)
    }
  }

  test("control: without NativeIO the stock raw filesystem forks") {
    assume(!NativeIO.isAvailable)
    val fs = initialized(new RawLocalFileSystem(), hadoopConf(None))
    val dir = tmp("stock-forks")
    val started = forks(write(fs.create(new Path(s"$dir/a/file")), "x"))
    assert(started.exists(_.contains("chmod")), started)
  }

  test("rename onto an existing file returns false and keeps both files") {
    val fs = initialized(new GraftLocalFileSystem, hadoopConf(None))
    val dir = tmp("graft-rename")
    write(fs.create(new Path(s"$dir/src")), "src")
    write(fs.create(new Path(s"$dir/dst")), "dst")
    assert(!fs.rename(new Path(s"$dir/src"), new Path(s"$dir/dst")))
    assert(read(s"$dir/src") === "src" && read(s"$dir/dst") === "dst")
    // onto a free name it renames, checksum sidecar included
    assert(fs.rename(new Path(s"$dir/src"), new Path(s"$dir/moved")))
    assert(read(s"$dir/moved") === "src")
    assert(Files.exists(Paths.get(s"$dir/.moved.crc")))
    assert(!Files.exists(Paths.get(s"$dir/src")))
  }

  test("getFileLinkStatus equals the stock result for links, files and " +
      "dangling links, and throws FileNotFoundException on a missing path") {
    val conf = hadoopConf(None)
    val stock = initialized(new RawLocalFileSystem(), conf)
    val graft = initialized(new GraftRawLocalFileSystem, conf)
    val dir = tmp("graft-links")
    Files.write(Paths.get(s"$dir/target"), "t".getBytes(UTF_8))
    Files.createSymbolicLink(Paths.get(s"$dir/link"), Paths.get(s"$dir/target"))
    Files.createSymbolicLink(Paths.get(s"$dir/dangling"), Paths.get(s"$dir/gone"))
    def view(s: FileStatus) = (s.getPath, s.isSymlink,
      if (s.isSymlink) Some(s.getSymlink) else None, s.getLen, s.isDirectory,
      s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)
    def outcome(fs: FileSystem, p: Path) =
      scala.util.Try(view(fs.getFileLinkStatus(p))).toEither.left.map(_.getClass)
    // the stock lookup runs readlink on Path.toString, so it sees a link
    // only through an unqualified path; both spellings must agree
    for (name <- Seq("link", "target", "dangling"); p <- Seq(
        new Path(s"$dir/$name"), new Path(s"file:$dir/$name"))) {
      assert(outcome(graft, p) === outcome(stock, p), p)
    }
    assert(graft.getFileLinkStatus(new Path(s"$dir/link")).isSymlink)
    intercept[java.io.FileNotFoundException] {
      graft.getFileLinkStatus(new Path(s"$dir/missing"))
    }
  }

  test("getFileStatus and listStatus equal the stock status field by field " +
      "for a file, a directory, symbolic links and set-ID/sticky directories") {
    val conf = hadoopConf(None)
    val stock = initialized(new RawLocalFileSystem(), conf)
    val graft = initialized(new GraftRawLocalFileSystem, conf)
    val dir = tmp("graft-status")
    Files.write(Paths.get(s"$dir/file"), "data".getBytes(UTF_8))
    Files.createDirectory(Paths.get(s"$dir/sub"))
    Files.createSymbolicLink(Paths.get(s"$dir/link"), Paths.get(s"$dir/file"))
    Files.createSymbolicLink(Paths.get(s"$dir/dirlink"), Paths.get(s"$dir/sub"))
    Files.createSymbolicLink(Paths.get(s"$dir/dangling"), Paths.get(s"$dir/gone"))
    for ((name, m) <- Seq("sgid" -> "2755", "sticky" -> "1777", "private" -> "0700")) {
      val d = Paths.get(s"$dir/$name")
      Files.createDirectory(d)
      Files.setAttribute(d, "unix:mode", Integer.valueOf(octal(m)))
    }
    def fields(s: FileStatus) = (s.getPath, s.getLen, s.isDirectory, s.isFile,
      s.isSymlink, s.getReplication, s.getBlockSize, s.getModificationTime,
      s.getAccessTime, s.getPermission, s.getOwner, s.getGroup, s.hasAcl,
      s.isEncrypted, s.isErasureCoded)
    def outcome(fs: FileSystem, p: Path) =
      scala.util.Try(fields(fs.getFileStatus(p))).toEither.left.map(_.getClass)
    for (name <- Seq("file", "sub", "link", "dirlink", "dangling", "sgid",
        "sticky", "private", "missing"); p <- Seq(
        new Path(s"$dir/$name"), new Path(s"file:$dir/$name"))) {
      assert(outcome(graft, p) === outcome(stock, p), p)
    }
    assert(graft.getFileStatus(new Path(s"$dir/sticky")).getPermission.getStickyBit)
    intercept[java.io.FileNotFoundException] {
      graft.getFileStatus(new Path(s"$dir/dangling"))
    }
    def listing(fs: FileSystem, p: String) =
      fs.listStatus(new Path(p)).toSeq.map(fields).sortBy(_._1.toString)
    for (p <- Seq(dir, s"$dir/file", s"$dir/link", s"$dir/sub"))
      assert(listing(graft, p) === listing(stock, p), p)
    assert(listing(graft, dir).size === 7) // the dangling link is skipped
  }

  test("a listing reads owner, group and mode without forking") {
    val dir = tmp("graft-list-forks")
    Files.write(Paths.get(s"$dir/a"), "a".getBytes(UTF_8))
    Files.createDirectory(Paths.get(s"$dir/d"))
    def touchAll(fs: FileSystem): Unit = fs.listStatus(new Path(dir))
      .foreach(s => (s.getPermission, s.getOwner, s.getGroup))
    val graft = initialized(new GraftLocalFileSystem, hadoopConf(None))
    touchAll(graft) // class initialization may fork once per JVM
    assert(forks(touchAll(graft)) === Nil)
    if (!NativeIO.isAvailable) { // control: the stock status runs `ls -ld`
      val started = forks(touchAll(initialized(new LocalFileSystem(), hadoopConf(None))))
      assert(started.count(_.contains("ls")) === 2, started)
    }
  }

  test("the engine confs bind file: to the graft classes on both Hadoop APIs") {
    val conf = new Configuration()
    for ((k, v) <- GraftSession.engineConfs if k.startsWith("spark.hadoop."))
      conf.set(k.stripPrefix("spark.hadoop."), v)
    // newInstance: the JVM-wide FileSystem cache may already hold another
    // file: instance, created under a conf without the binding
    val fs = FileSystem.newInstance(root, conf)
    try assert(fs.getClass === classOf[GraftLocalFileSystem])
    finally fs.close()
    assert(AbstractFileSystem.get(root, conf).getClass === classOf[GraftLocalFs])
  }
}
