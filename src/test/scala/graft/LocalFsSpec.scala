package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The fork-free `file:` file system ([[ForkFreeRawLocalFileSystem]]
  * and its two faces): the engine session resolves to it, its calls
  * start no child process, and its permissions and link statuses match
  * Hadoop's stock `RawLocalFileSystem`.
  */
class LocalFsSpec extends SparkSpec {

  private def tempDir(prefix: String): java.nio.file.Path =
    Files.createTempDirectory(prefix)

  private def init[T <: RawLocalFileSystem](fs: T): T = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  /** The command lines of the processes `body` starts. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("localfs", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }

  test("the engine session resolves file: to both fork-free faces") {
    val conf = spark.sparkContext.hadoopConfiguration
    FileSystem.get(URI.create("file:///"), conf).getClass shouldBe
      classOf[ForkFreeLocalFileSystem]
    AbstractFileSystem.get(URI.create("file:///"), conf).getClass shouldBe
      classOf[ForkFreeLocalFs]
  }

  test("FileSystem and FileContext calls start no process") {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(tempDir("localfs_fork").toUri)
    val fs = root.getFileSystem(conf)
    val fc = FileContext.getFileContext(conf)
    val started = processStarts {
      // FileSystem: the parquet-commit and store-file path
      val d = new Path(root, "fs/a")
      fs.mkdirs(d) shouldBe true
      val out = fs.create(new Path(d, "f1"))
      out.write(Array[Byte](1, 2, 3)); out.close()
      fs.rename(new Path(d, "f1"), new Path(d, "f2")) shouldBe true
      fs.listStatus(d).map(_.getPath.getName).toSeq shouldBe Seq("f2")
      fs.getFileLinkStatus(new Path(d, "f2")).getLen shouldBe 3
      fs.delete(new Path(root, "fs"), true) shouldBe true
      // FileContext: the checkpoint-manager path (temp file, overwrite rename)
      val c = new Path(root, "fc/b")
      fc.mkdir(c, FsPermission.getDirDefault, true)
      for (name <- Seq("tmp", "final")) {
        val o = fc.create(new Path(c, name),
          java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        o.write(name.getBytes("UTF-8")); o.close()
      }
      fc.rename(new Path(c, "tmp"), new Path(c, "final"), Options.Rename.OVERWRITE)
      fc.util.listStatus(c).map(_.getPath.getName).toSeq shouldBe Seq("final")
      fc.getFileLinkStatus(new Path(c, "final")).getLen shouldBe 3
      fc.delete(new Path(root, "fc"), true) shouldBe true
    }
    fs.delete(root, true)
    started shouldBe empty
  }

  test("the FileSystem face renames as Hive's ProxyLocalFileSystem does") {
    val proxy = new org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem
    proxy.initialize(URI.create("file:///"), new Configuration())
    val ours = new ForkFreeLocalFileSystem
    ours.initialize(URI.create("file:///"), new Configuration())
    val dir = tempDir("localfs_rename")
    val got = Seq(proxy, ours).map { fs =>
      val base = new Path(dir.toUri.toString, fs.getClass.getSimpleName)
      def put(name: String): Unit = {
        val o = fs.create(new Path(base, name)); o.write(name.getBytes("UTF-8")); o.close()
      }
      put("a"); put("b"); put("c")
      fs.mkdirs(new Path(base, "d")) shouldBe true
      val renamed = Seq(("a", "b"), ("a", "fresh"), ("c", "d"))
        .map { case (s, t) => fs.rename(new Path(base, s), new Path(base, t)) }
      def names(p: Path) = fs.listStatus(p).map(_.getPath.getName).sorted.toSeq
      (renamed, names(base), names(new Path(base, "d")))
    }
    got(0)._1 shouldBe Seq(false, true, true)
    got(1) shouldBe got(0)
    ours.delete(new Path(dir.toUri), true)
  }

  test("permissions match the stock RawLocalFileSystem") {
    val stock = init(new RawLocalFileSystem)
    val ours = init(new ForkFreeRawLocalFileSystem)
    val dir = tempDir("localfs_perm")
    def mode(p: Path): String =
      java.nio.file.attribute.PosixFilePermissions.toString(
        Files.getPosixFilePermissions(Paths.get(p.toUri)))
    for ((perm, i) <- Seq(None, Some(FsPermission.createImmutable(Integer.parseInt("700", 8).toShort)),
        Some(FsPermission.createImmutable(Integer.parseInt("644", 8).toShort))).zipWithIndex) {
      val got = Seq(stock, ours).map { fs =>
        val base = new Path(dir.toUri.toString, s"${fs.getClass.getSimpleName}-$i")
        val (file, sub) = (new Path(base, "f"), new Path(base, "d"))
        perm match {
          case None =>
            fs.create(file).close()
            fs.mkdirs(sub) shouldBe true
          case Some(p) =>
            fs.create(file, p, true, 4096, 1.toShort, 1L << 25, null).close()
            fs.mkdirs(sub, p) shouldBe true
        }
        val created = (mode(file), mode(sub))
        perm.foreach { p => fs.setPermission(file, p); fs.setPermission(sub, p) }
        (created, mode(file), mode(sub))
      }
      withClue(s"permission $perm: ") { got(1) shouldBe got(0) }
    }
    // a sticky bit falls back to the stock chmod
    val sticky = FsPermission.createImmutable(Integer.parseInt("1777", 8).toShort)
    val stickyGot = Seq(stock, ours).map { fs =>
      val d = new Path(dir.toUri.toString, s"sticky-${fs.getClass.getSimpleName}")
      fs.mkdirs(d) shouldBe true
      fs.setPermission(d, sticky)
      fs.getFileStatus(d).getPermission
    }
    stickyGot(0).getStickyBit shouldBe true
    stickyGot(1) shouldBe stickyGot(0)
    stock.delete(new Path(dir.toUri), true)
  }

  test("link statuses match the stock RawLocalFileSystem") {
    val stock = init(new RawLocalFileSystem)
    val ours = init(new ForkFreeRawLocalFileSystem)
    val dir = tempDir("localfs_link")
    Files.write(dir.resolve("plain"), Array[Byte](1, 2, 3, 4, 5))
    Files.createSymbolicLink(dir.resolve("live"), dir.resolve("plain"))
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    def status(fs: RawLocalFileSystem, p: Path): Either[String, (Boolean, String, Long, Boolean)] =
      try {
        val s = fs.getFileLinkStatus(p)
        Right((s.isSymlink, if (s.isSymlink) s.getSymlink.toString else null,
          s.getLen, s.isDirectory))
      } catch { case e: java.io.IOException => Left(e.getClass.getName) }
    for {
      name <- Seq("plain", "live", "dangling", "missing")
      path <- Seq(new Path(dir.resolve(name).toUri), new Path(dir.resolve(name).toString))
    } withClue(s"$path: ") {
      val want = status(stock, path)
      status(ours, path) shouldBe want
      if (name == "missing") want shouldBe Left(classOf[FileNotFoundException].getName)
    }
    // an unqualified live link is seen as one, with its target
    status(ours, new Path(dir.resolve("live").toString)) shouldBe
      Right((true, "file:" + dir.resolve("plain"), 5L, false))
    stock.delete(new Path(dir.toUri), true)
  }
}
