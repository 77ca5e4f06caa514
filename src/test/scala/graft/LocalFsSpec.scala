package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.ChangeEvent

/** `graft.fs`, the local file system bound to `file:`: it answers as stock
  * Hadoop's does, and the streaming commit path starts no process. */
class LocalFsSpec extends SparkSpec {

  private def tmp(prefix: String): java.nio.file.Path = Files.createTempDirectory(prefix)

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def raw(stock: Boolean, umask: String = "022"): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    val fs = if (stock) new org.apache.hadoop.fs.RawLocalFileSystem else new graft.fs.RawLocalFileSystem
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** Stock Hadoop's `FileContext` stack (`LocalFs` over its raw class), or
    * the one `core-site.xml` binds. */
  private def fileContext(stock: Boolean): FileContext = {
    val conf = new Configuration()
    if (stock) conf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    FileContext.getLocalFSFileContext(conf)
  }

  test("create and mkdirs set the umask-masked mode stock RawLocalFileSystem sets") {
    for ((umask, file, dir) <- Seq(("022", "644", "755"), ("077", "600", "700"))) {
      val modes = Seq(true, false).map { stock =>
        val fs = raw(stock, umask)
        val root = tmp("localfs_mode_")
        fs.create(new Path(s"$root/a/f")).close()
        assert(fs.mkdirs(new Path(s"$root/b/c")))
        val m = Seq("a", "a/f", "b", "b/c").map(p => mode(root.resolve(p)))
        assert(m == Seq(dir, file, dir, dir).map(Integer.parseInt(_, 8)),
          s"umask $umask stock=$stock: ${m.map(_.toOctalString)}")
        m
      }
      assert(modes(0) == modes(1), s"umask $umask")
    }
  }

  test("setPermission sets the mode stock RawLocalFileSystem sets, sticky bit included") {
    for (octal <- Seq("640", "755", "1777", "0")) {
      val got = Seq(true, false).map { stock =>
        val root = tmp("localfs_chmod_")
        val dir = Files.createDirectory(root.resolve("d"))
        val perm = new FsPermission(Integer.parseInt(octal, 8).toShort)
        raw(stock).setPermission(new Path(dir.toString), perm)
        mode(dir)
      }
      assert(got == Seq.fill(2)(Integer.parseInt(octal, 8)), s"$octal: ${got.map(_.toOctalString)}")
    }
  }

  /** Every field of a status, `FileStatus.equals` compares paths only. */
  private def fields(s: FileStatus): Seq[Any] =
    Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen, s.getReplication,
      s.getBlockSize, s.getModificationTime, s.getAccessTime, s.getPermission,
      s.getOwner, s.getGroup, if (s.isSymlink) s.getSymlink else null)

  test("getFileLinkStatus matches stock RawLocalFileSystem on files, directories and links") {
    val root = tmp("localfs_links_")
    Files.write(root.resolve("f"), "twelve bytes".getBytes(UTF_8))
    Files.createDirectory(root.resolve("d"))
    Files.createSymbolicLink(root.resolve("link"), Paths.get("f"))
    Files.createSymbolicLink(root.resolve("dirlink"), root.resolve("d"))
    Files.createSymbolicLink(root.resolve("dangling"), Paths.get("gone"))
    val (stock, graftFs) = (raw(stock = true), raw(stock = false))
    for (name <- Seq("f", "d", "link", "dirlink", "dangling")) {
      // a path without a scheme: stock reads the link only on those
      val p = new Path(s"$root/$name")
      val want = fields(stock.getFileLinkStatus(p))
      assert(fields(graftFs.getFileLinkStatus(p)) == want, name)
      if (Files.isSymbolicLink(root.resolve(name))) {
        assert(graftFs.getLinkTarget(p) == stock.getLinkTarget(p), name)
        // on a file: path too, where stock reports the target instead
        val q = graftFs.getFileLinkStatus(new Path(s"file:$root/$name"))
        assert(q.isSymlink && q.getSymlink == graftFs.getFileLinkStatus(p).getSymlink, name)
      }
    }
    assert(stock.getFileLinkStatus(new Path(s"$root/link")).isSymlink)
    val missing = new Path(s"$root/missing")
    val thrown = Seq(stock, graftFs).map(fs => intercept[Exception](fs.getFileLinkStatus(missing)))
    assert(thrown.map(_.getClass).distinct == Seq(classOf[java.io.FileNotFoundException]), thrown)
  }

  test("FileContext.rename with OVERWRITE replaces a file and its checksum as stock LocalFs does") {
    val listings = Seq(true, false).map { stock =>
      val fc = fileContext(stock)
      val root = tmp("localfs_rename_")
      def write(name: String, text: String): Path = {
        val p = new Path(s"file:$root/$name")
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        try out.write(text.getBytes(UTF_8)) finally out.close()
        p
      }
      val (src, dst) = (write("tmp/src", "new"), write("dst", "old"))
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      assert(new String(Files.readAllBytes(root.resolve("dst")), UTF_8) == "new")
      Files.walk(root).iterator().asScala.map(p => root.relativize(p).toString).toSeq.sorted
    }
    assert(listings(0) == listings(1))
    assert(listings(1).contains(".dst.crc") && !listings(1).exists(_.contains("src")), listings(1))
  }

  /** The stack frames of every process the JVM starts while `body` runs. */
  private def processStarts(body: => Unit): Seq[Seq[String]] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val dump = Files.createTempFile("localfs_", ".jfr")
    try {
      rec.start()
      body
      rec.stop()
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(e => e.getStackTrace.getFrames.asScala.toSeq
          .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}"))
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }

  test("stream commits, a foreachBatch applier and a parquet write start no process from Hadoop fs") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dir = tmp("localfs_nofork_").toString
    val starts = processStarts {
      val changes = MemoryStream[ChangeEvent]
      val q = StreamingOps.changelogStream(changes.toDS()).writeStream
        .format("parquet").option("checkpointLocation", s"$dir/chg_ckpt").start(s"$dir/chg")
      try Seq(Seq(ChangeEvent(1L, 10L, 100L, 5.0), ChangeEvent(2L, 20L, 100L, 1.0)),
        Seq(ChangeEvent(1L, 11L, 200L, 6.0))).foreach { b =>
        changes.addData(b: _*)
        q.processAllAvailable()
      } finally q.stop()
      val scd2In = MemoryStream[ChangeEvent]
      val s = StreamingOps.incrementalScd2(scd2In.toDS().toDF("user_id", "event_id", "ts", "value"),
        "user_id", s"$dir/current", s"$dir/history", s"$dir/scd2_ckpt")
      try {
        scd2In.addData(ChangeEvent(1L, 10L, 100L, 5.0), ChangeEvent(1L, 11L, 200L, 6.0))
        s.processAllAvailable()
      } finally s.stop()
      spark.range(10).write.parquet(s"$dir/range")
    }
    assert(spark.read.parquet(s"$dir/chg").count() == 3)
    assert(spark.read.parquet(s"$dir/current").count() == 1)
    val fromFs = starts.filter(_.exists(_.startsWith("org.apache.hadoop.fs.")))
    assert(fromFs.isEmpty, fromFs.map(_.take(12).mkString("\n  ")).mkString("\n"))
  }
}
