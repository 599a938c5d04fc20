package graft.io

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, LinkOption, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileStatus,
  FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{LocalRun, SparkSpec}

/** The fork-free `file:` binding: every case runs through the stock
  * `RawLocalFileSystem` and through [[ForkFreeRawLocalFileSystem]] and
  * must come out the same; the session must resolve `file:` to the
  * graft classes; and a parquet append plus a stateful stream must
  * start no `chmod`/`readlink`/`ls`/`stat` process. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def init[F <: FileSystem](fs: F, conf: Configuration = new Configuration()): F = {
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  /** Permission and sticky bits of `p` as the OS reports them. */
  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri), "unix:mode", LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Int] & 0xfff

  /** Runs `body` on a fresh temp dir with the stock and with the graft
    * raw filesystem (same conf); returns (stock, graft) results. */
  private def both[R](conf: Configuration)(body: (FileSystem, Path) => R): (R, R) = {
    def run(fs: FileSystem) = {
      val dir = Files.createTempDirectory("graft-localfs")
      try body(fs, new Path(dir.toUri)) finally LocalRun.deleteRecursively(dir)
    }
    (run(init(new RawLocalFileSystem, conf)), run(init(new ForkFreeRawLocalFileSystem, conf)))
  }

  test("create, mkdirs and setPermission leave the same modes as stock RawLocalFileSystem") {
    for (umask <- Seq("022", "077", "002")) {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      val (stock, graft) = both(conf) { (fs, root) =>
        val f = new Path(root, "a/b/part-0")
        fs.create(f).close()
        val d = new Path(root, "m/n")
        fs.mkdirs(d)
        val dp = new Path(root, "p")
        fs.mkdirs(dp, perm("750"))
        val set = Seq("600", "644", "700", "755").map { m =>
          fs.setPermission(f, perm(m)); m -> mode(f)
        }
        fs.setPermission(d, perm("1777"))
        Seq("create" -> mode(f), "create-parent" -> mode(new Path(root, "a/b")),
          "mkdirs" -> mode(d), "mkdirs-750" -> mode(dp)) ++ set ++ Seq("sticky" -> mode(d))
      }
      assert(graft === stock, s"umask $umask")
      assert(stock.toMap.apply("sticky") === Integer.parseInt("1777", 8))
    }
  }

  /** The fields a caller can observe on a link status. */
  private def describe(s: FileStatus) =
    (s.getPath.toString, s.isFile, s.isDirectory, s.isSymlink,
      if (s.isSymlink) s.getSymlink.toString else "", s.getLen,
      s.getModificationTime, s.getPermission.toString, s.getOwner, s.getGroup)

  test("getFileLinkStatus and getLinkTarget match stock on files, dirs, links and misses") {
    val dir = Files.createTempDirectory("graft-links")
    try {
      Files.write(dir.resolve("f"), "0123456789".getBytes)
      Files.createDirectory(dir.resolve("d"))
      Files.createSymbolicLink(dir.resolve("rel"), Paths.get("f"))
      Files.createSymbolicLink(dir.resolve("abs"), dir.resolve("d"))
      Files.createSymbolicLink(dir.resolve("dangling"), Paths.get("nope"))
      val stock = init(new RawLocalFileSystem)
      val graft = init(new ForkFreeRawLocalFileSystem)
      val local = Seq("f", "d", "rel", "abs", "dangling").map(n => new Path(dir.resolve(n).toString))
      // a `file:`-qualified path is never a link to either (readlink
      // gets the literal `file:/…` string, a relative name)
      val qualified = Seq("f", "rel").map(n => new Path(dir.resolve(n).toUri))
      for (p <- local ++ qualified)
        assert(describe(graft.getFileLinkStatus(p)) === describe(stock.getFileLinkStatus(p)), p)
      assert(graft.getFileLinkStatus(local(2)).isSymlink)
      assert(!graft.getFileLinkStatus(qualified(1)).isSymlink)
      for (n <- Seq("rel", "abs", "dangling")) {
        val p = new Path(dir.resolve(n).toString)
        assert(graft.getLinkTarget(p) === stock.getLinkTarget(p), n)
      }
      val missing = new Path(dir.resolve("missing").toString)
      intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
      intercept[FileNotFoundException](graft.getFileLinkStatus(missing))
    } finally {
      // links first: deleteRecursively follows them and skips dangling ones
      Seq("rel", "abs", "dangling").foreach(n => Files.deleteIfExists(dir.resolve(n)))
      LocalRun.deleteRecursively(dir)
    }
  }

  test("FileContext through graft.io.LocalFs writes .crc sidecars and verifies them on read") {
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs].getName)
    val fc = FileContext.getLocalFSFileContext(conf)
    assert(fc.getDefaultFileSystem.getClass === classOf[LocalFs])
    val dir = Files.createTempDirectory("graft-fc")
    try {
      val tmp = new Path(dir.resolve(".1.delta.tmp").toUri)
      val dst = new Path(dir.resolve("1.delta").toUri)
      val payload = Array.tabulate[Byte](4096)(i => (i % 251).toByte)
      def write(p: Path, bytes: Array[Byte]): Unit = {
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        try out.write(bytes) finally out.close()
      }
      def readWith(open: Path => java.io.InputStream)(p: Path): Array[Byte] = {
        val in = open(p)
        try in.readAllBytes() finally in.close()
      }
      val read = readWith(fc.open(_, 4096)) _
      // the one-arg open Spark's checkpoint manager uses: stock Hadoop's
      // FilterFs.open(p) skips ChecksumFs's verifying reader
      val readOneArg = readWith(fc.open(_)) _
      write(dst, Array[Byte](1, 2, 3))
      write(tmp, payload)
      fc.rename(tmp, dst, Options.Rename.OVERWRITE)
      assert(Files.exists(dir.resolve(".1.delta.crc")))
      assert(!Files.exists(dir.resolve("..1.delta.tmp.crc")))
      assert(read(dst).sameElements(payload))
      assert(readOneArg(dst).sameElements(payload))

      val raf = new RandomAccessFile(dir.resolve("1.delta").toFile, "rw")
      try { raf.seek(100); raf.write(payload(100) ^ 0xff) } finally raf.close()
      intercept[ChecksumException](read(dst))
      intercept[ChecksumException](readOneArg(dst))
    } finally LocalRun.deleteRecursively(dir)
  }

  /** Commands of the processes `body` started, from an in-process JFR
    * recording of `jdk.ProcessStart`. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(f)
      RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(f) }
  }

  private val FileShellCommands = Set("chmod", "readlink", "ls", "stat")
  private def fileShellForks(cmds: Seq[String]) =
    cmds.filter(c => FileShellCommands(Paths.get(c.trim.split("\\s+").head).getFileName.toString))

  test("the session resolves file: to the graft classes (FileSystem cache and FileContext)") {
    spark // the shared test session exists first
    val conf = LocalRun.session(4).sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), conf).getClass === classOf[LocalFileSystem])
    assert(FileSystem.getLocal(conf).getRaw.getClass === classOf[ForkFreeRawLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem.getClass ===
      classOf[LocalFs])
  }

  test("a parquet append and a two-trigger stateful stream start no chmod/readlink/ls/stat") {
    // the recorder sees Hadoop's forks: the stock class, without
    // libhadoop, runs chmod
    if (!NativeIO.isAvailable) {
      val f = Files.createTempFile("graft-chmod", ".probe")
      try {
        val seen = processStarts(
          init(new RawLocalFileSystem).setPermission(new Path(f.toString), perm("600")))
        assert(fileShellForks(seen).exists(_.startsWith("chmod")), seen)
      } finally Files.deleteIfExists(f)
    }

    val dir = Files.createTempDirectory("graft-forkguard")
    try {
      val table = dir.resolve("warehouse").toString
      var counts = Seq.empty[(Long, Long)]
      val seen = processStarts {
        (1 to 2).foreach(t => (1 to 50).map(i => (i, t)).toDF("k", "tick")
          .write.mode("append").parquet(table))
        assert(spark.read.parquet(table).count() === 100)

        implicit val sqlCtx = spark.sqlContext
        val input = MemoryStream[Int]
        val q = input.toDF().groupBy(($"value" % 3).as("g")).count()
          .writeStream.format("memory").queryName("graft_fork_guard")
          .outputMode("complete")
          .option("checkpointLocation", dir.resolve("ckpt").toString)
          .start()
        try {
          input.addData(1 to 10)
          q.processAllAvailable()
          input.addData(11 to 20)
          q.processAllAvailable()
        } finally q.stop()
        counts = spark.table("graft_fork_guard").as[(Long, Long)].collect().toSeq.sorted
      }
      assert(counts === Seq((0L, 6L), (1L, 7L), (2L, 7L)))
      assert(fileShellForks(seen).isEmpty, seen)
    } finally LocalRun.deleteRecursively(dir)
  }
}
