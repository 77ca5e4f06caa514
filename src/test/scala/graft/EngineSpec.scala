package graft

import java.net.URI
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, FileContext, FileSystem}
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.spark.sql.SparkSession

import graft.functions.{GraftExtensions, GraftFunctions}

/** The one engine profile: every session is built by `Engine`, and the
  * sessions that tests and library users get carry its conf. */
class EngineSpec extends SparkSpec {

  /** Builds a new session on the shared SparkContext — with no active or
    * default session, `getOrCreate` makes a fresh one instead of handing
    * back the test session — then restores the test session. */
  private def fresh(build: => SparkSession): SparkSession = {
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try build
    finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  private def assertCarries(s: SparkSession, conf: Seq[(String, String)]): Unit =
    conf.foreach { case (k, v) =>
      assert(s.conf.getOption(k).contains(v), s"$k: ${s.conf.getOption(k)} != $v")
    }

  test("only Engine builds sessions: no other source file calls the session builder") {
    val needle = Seq("SparkSession", "builder").mkString(".")
    val files = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    val callers = files.filter(p => Files.readString(p).contains(needle))
      .map((p: Path) => p.toString.replace('\\', '/'))
    assert(files.size > 50, s"scan found only ${files.size} files — wrong working dir?")
    // this suite's binding test builds one bare session, as perfbench does
    assert(callers.sorted == Seq("src/main/scala/graft/Engine.scala",
      "src/test/scala/graft/EngineSpec.scala"), callers.mkString(", "))
  }

  test("file: resolves to graft.fs for a bare Configuration, a bare builder and Engine.session") {
    val file = URI.create("file:///")
    def assertGraft(conf: Configuration, who: String): Unit = {
      assert(FileSystem.getFileSystemClass("file", conf) == classOf[graft.fs.LocalFileSystem], who)
      assert(FileSystem.get(file, conf).getClass == classOf[graft.fs.LocalFileSystem], who)
      val local = FileSystem.getLocal(conf)
      assert(local.getClass == classOf[graft.fs.LocalFileSystem], who)
      assert(local.getRaw.getClass == classOf[graft.fs.RawLocalFileSystem], who)
      val afs = FileContext.getLocalFSFileContext(conf).getDefaultFileSystem
      assert(afs.getClass == classOf[graft.fs.LocalFs], who)
      assert(afs.asInstanceOf[ChecksumFs].getRawFs.getClass.getName == "graft.fs.RawLocalFs", who)
    }
    assertGraft(new Configuration(), "new Configuration()")
    // no Engine conf: the binding comes from core-site.xml on the classpath
    val bare = fresh(SparkSession.builder().getOrCreate())
    assert(bare ne spark)
    assertGraft(bare.sparkContext.hadoopConfiguration, "bare builder, SparkContext")
    assertGraft(bare.sessionState.newHadoopConf(), "bare builder, session")
    val engine = fresh(Engine.session(cores = 4))
    assertGraft(engine.sessionState.newHadoopConf(), "Engine.session")
    // one place binds file:, and it is not the session conf
    assert(!Engine.conf(cores = 4).exists(_._1.startsWith("spark.hadoop.fs.")), Engine.conf(4))
  }

  test("Hadoop rename/delete under graft.streaming only in StateDir and the commit protocols") {
    // a new applier keeps its state through StateDir, not a hand-rolled swap
    val allowed = Set("shardAssignCommit", "compactAnnIndex", "resplitHotCells", "recoverResplit")
    val member = """^  (?:private(?:\[\w+\])? )?def (\w+)""".r
    val call = """\.(rename|delete)\(""".r
    val files = Files.list(Paths.get("src/main/scala/graft/streaming")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith("StateDir.scala")), s"scan found ${files.mkString(", ")}")
    val calls = files.filterNot(_.endsWith("StateDir.scala")).flatMap { f =>
      var in = ""
      Files.readAllLines(f).asScala.zipWithIndex.flatMap { case (line, i) =>
        member.findFirstMatchIn(line).foreach(m => in = m.group(1))
        call.findAllMatchIn(line).map(_ => (in, s"${f.getFileName}:${i + 1} in $in"))
      }
    }
    assert(allowed.forall(a => calls.exists(_._1 == a)), s"scan missed a protocol: $calls")
    val offenders = calls.filterNot(c => allowed(c._1)).map(_._2)
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("isolate releases a locally-checkpointed RDD without Spark's lineage warning") {
    val sc = spark.sparkContext
    def checkpointed() = {
      val rdd = sc.parallelize(1 to 10, 2).map(_ + 1).localCheckpoint()
      rdd.count()
      rdd
    }
    val cached = sc.parallelize(1 to 10, 2).cache()
    cached.count()
    checkpointed()
    val warned = "was locally checkpointed"
    // the capture sees the warning RDD.unpersist logs ...
    val direct = rddWarnings(checkpointed().unpersist(): Unit)
    assert(direct.exists(_.contains(warned)), direct.mkString(" | "))
    // ... and isolate logs none of them
    val lines = rddWarnings(Engine.isolate(spark))
    assert(sc.getPersistentRDDs.isEmpty, sc.getPersistentRDDs.keys.mkString(", "))
    assert(!lines.exists(_.contains(warned)), lines.mkString(" | "))
  }

  /** The WARN lines the `org.apache.spark.rdd` loggers log while `body` runs. */
  private def rddWarnings(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    val name = "org.apache.spark.rdd"
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val capture = new AbstractAppender("rdd-warnings", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage): Unit
    }
    capture.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    Configurator.setLevel(name, Level.WARN)
    val config = ctx.getConfiguration.getLoggerConfig(name)
    config.setAdditive(false)
    config.addAppender(capture, Level.WARN, null)
    ctx.updateLoggers()
    try body
    finally {
      config.removeAppender(capture.getName)
      config.setAdditive(true)
      Configurator.setLevel(name, Level.ERROR)
      capture.stop()
    }
    lines.asScala.toSeq
  }

  test("the test session carries every Engine conf entry") {
    assertCarries(spark, Engine.conf(cores = 4))
    assert(spark.sparkContext.master == "local[4]")
  }

  test("Engine.session carries every Engine conf entry") {
    val s = fresh(Engine.session(cores = 4))
    assert(s ne spark)
    assertCarries(s, Engine.conf(cores = 4))
    // joining the running context keeps its log level (the suites run at ERROR)
    assert(LogManager.getRootLogger.getLevel == Level.ERROR)
  }

  test("no spark.graft session-conf key in src/main") {
    // a session-conf knob is a second way to set an operator parameter
    val key = "\"(spark\\.graft\\.[^\"]*)\"".r
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    val keys = files.flatMap(p => key.findAllMatchIn(Files.readString(p)).map(_.group(1)))
    assert(files.exists(_.endsWith(Paths.get("graft", "Engine.scala"))),
      s"scan missed Engine.scala in ${files.size} files — wrong working dir?")
    assert(keys.isEmpty, keys.mkString(", "))
  }

  test("the extensions path installs exactly the functions register installs") {
    def graftNames(s: SparkSession): Set[String] =
      s.sessionState.functionRegistry.listFunction().map(_.funcName)
        .filter(_.startsWith("graft_")).toSet
    val viaRegister = fresh(Engine.builder(cores = 4).getOrCreate())
    assert(graftNames(viaRegister).isEmpty)
    GraftFunctions.register(viaRegister)
    val viaExtensions = fresh(Engine.builder(cores = 4)
      .withExtensions(new GraftExtensions).getOrCreate())
    assert(graftNames(viaRegister) == GraftFunctions.table.map(_.name).toSet)
    assert(graftNames(viaExtensions) == graftNames(viaRegister))
  }

  test("Probe's job time is the union of job intervals, clipped to the run") {
    // overlapping jobs count once; a gap between jobs is driver time
    assert(tools.Probe.unionLength(Seq((10L, 30L), (20L, 40L), (50L, 60L)), 0L, 100L) == 40L)
    // nested and duplicate intervals
    assert(tools.Probe.unionLength(Seq((0L, 50L), (10L, 20L), (0L, 50L)), 0L, 100L) == 50L)
    // clipped to the run window, so job time never exceeds wall
    assert(tools.Probe.unionLength(Seq((-5L, 15L), (90L, 120L)), 0L, 100L) == 25L)
    assert(tools.Probe.unionLength(Nil, 0L, 100L) == 0L)
  }
}
