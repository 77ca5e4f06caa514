package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, Row}
import org.apache.spark.sql.types._

import graft.sources.{Parquet, Tables}

/** `sources.Parquet`: the footer read on the driver gives the schema
  * `spark.read.parquet` infers, and the frame it builds, without a job. */
class SourcesSpec extends SparkSpec {
  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings", "events")
  private def sfDir(sf: String) = new java.io.File(new java.io.File(sf001).getParentFile, sf).toString
  private def tmpDir(prefix: String) = Files.createTempDirectory(prefix).toString
  private def hconf = spark.sparkContext.hadoopConfiguration

  /** The footer schema equals the inferred data schema (the inferred
    * schema minus `partitionCols`), and the built frame matches the bare
    * read's schema and rows. */
  private def assertSameAsInferred(path: String, partitionCols: Seq[String] = Nil): Unit = {
    val inferred = spark.read.parquet(path)
    assert(Parquet.schema(spark, path) ==
      Some(StructType(inferred.schema.filterNot(f => partitionCols.contains(f.name)))), path)
    val read = Parquet.read(spark, path)
    assert(read.schema == inferred.schema, path)
    assert(read.collect().map(_.toString).sorted.sameElements(
      inferred.collect().map(_.toString).sorted), path)
  }

  /** Jobs run by `f`. */
  private def jobsOf(f: => Unit): Int = {
    val jobs = new tools.Probe.Jobs
    val sc = spark.sparkContext
    GraftPlanBridge.drainListeners(sc)
    sc.addSparkListener(jobs)
    try {
      val t0 = System.currentTimeMillis()
      f
      val t1 = System.currentTimeMillis()
      GraftPlanBridge.drainListeners(sc)
      jobs.run(t0, t1).jobs
    } finally sc.removeSparkListener(jobs)
  }

  test("footer schema equals the inferred schema for every table at three scales") {
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); t <- tables) {
      val p = s"${sfDir(sf)}/$t.parquet"
      assert(Parquet.schema(spark, p) == Some(spark.read.parquet(p).schema), p)
    }
  }

  test("building a read runs no Spark job; the bare read runs one") {
    val p = s"$sf001/lineitem.parquet"
    assert(jobsOf(Parquet.read(spark, p)) == 0)
    assert(jobsOf(spark.read.parquet(p)) >= 1)
    assert(jobsOf(Tables.events(spark, sf001)) == 0)
  }

  /** An events file as the generator writes it: no Spark metadata, `ts`
    * an int64 timestamp in `unit`, so the session's converter settings
    * decide its type. */
  private def writeEvents(unit: String, ts: Seq[Long]): String = {
    val dir = tmpDir("graft_events_")
    val schema = MessageTypeParser.parseMessageType(
      s"""message schema {
         |  optional int64 event_id;
         |  optional int64 ts (TIMESTAMP($unit,false));
         |  optional int64 user_id;
         |  optional binary event_type (STRING);
         |  optional double value;
         |}""".stripMargin)
    val w = ExampleParquetWriter.builder(
        HadoopOutputFile.fromPath(new Path(s"$dir/events.parquet"), hconf))
      .withType(schema).withConf(hconf).build()
    val rows = new SimpleGroupFactory(schema)
    try ts.zipWithIndex.foreach { case (t, i) =>
      w.write(rows.newGroup().append("event_id", i.toLong).append("ts", t)
        .append("user_id", i % 2L).append("event_type", "view").append("value", i * 0.5))
    } finally w.close()
    dir
  }

  test("events in both generator vintages: footer schema, Tables.events and the session conf") {
    val micros = Seq(1700000000000000L, 1700000000000001L, 1700000003600000L)
    val nanos = micros.map(_ * 1000L + 7L)
    val microDir = writeEvents("MICROS", micros)
    val nanoDir = writeEvents("NANOS", nanos)
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val before = spark.conf.get(ntz)
    try for (flag <- Seq("true", "false")) {
      spark.conf.set(ntz, flag)
      assertSameAsInferred(s"$microDir/events.parquet")
      assert(Parquet.schema(spark, s"$microDir/events.parquet").get("ts").dataType ==
        (if (flag == "true") TimestampNTZType else TimestampType))
    } finally spark.conf.set(ntz, before)
    // Tables.events sets nanosAsLong itself before reading
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val ev = Tables.events(spark, nanoDir)
    assert(ev.schema("ts").dataType == LongType)
    assertSameAsInferred(s"$nanoDir/events.parquet")
    def tsOf(df: DataFrame) = df.orderBy("event_id").select("ts").collect().map(_.getLong(0)).toSeq
    assert(tsOf(ev) == nanos)
    assert(tsOf(Tables.events(spark, microDir)) == micros.map(_ * 1000L))
  }

  test("Spark-written directory with non-null, decimal, array, map and struct columns") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("amount", DecimalType(12, 2)),
      StructField("tags", ArrayType(StringType, containsNull = false), nullable = false),
      StructField("attrs", MapType(StringType, DoubleType, valueContainsNull = false)),
      StructField("point", StructType(Seq(
        StructField("x", DoubleType, nullable = false), StructField("label", StringType))))))
    val rows = (1 to 6).map(i => Row(i.toLong, BigDecimal(i) / 4, Seq(s"t$i", "u"),
      Map("k" -> i * 1.5), Row(i * 2.0, if (i % 2 == 0) null else s"p$i")))
    val dir = tmpDir("graft_nested_") + "/t"
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).repartition(2)
      .write.parquet(dir)
    val names = new java.io.File(dir).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    // the footer keeps the writer's nullability; the relation drops it
    val part = names.filter(n => n.startsWith("part-") && n.endsWith(".parquet")).min
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(s"$dir/$part"), hconf))
    val written = try reader.getFileMetaData.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata") finally reader.close()
    assert(DataType.fromJson(written) == schema)
    assert(spark.read.parquet(dir).schema != schema)
    assertSameAsInferred(dir)
  }

  test("the footer inference reads: first data file in path order, then _metadata, then _common_metadata") {
    val dir = tmpDir("graft_pick_")
    val fs = new Path(dir).getFileSystem(hconf)
    def one(df: DataFrame, name: String): Unit = {
      val out = tmpDir("graft_pick_src_")
      df.coalesce(1).write.mode("overwrite").parquet(out)
      val f = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet")).head
      fs.copyFromLocalFile(new Path(f.toString), new Path(s"$dir/$name"))
    }
    import spark.implicits._
    one(Seq((1L, "a")).toDF("a", "b"), "part-1.parquet")
    one(Seq(1L).toDF("a"), "part-0.parquet")
    one(Seq((1L, 2.0, "z")).toDF("a", "c", "d"), ".hidden.parquet")
    one(Seq((1L, 2.0, "z")).toDF("a", "c", "d"), "_hidden.parquet")
    assert(Parquet.schema(spark, dir).get.fieldNames.toSeq == Seq("a"))
    assert(Parquet.schema(spark, dir) == Some(spark.read.parquet(dir).schema))
    one(Seq((1L, 3)).toDF("a", "m"), "_metadata")
    assert(Parquet.schema(spark, dir).get.fieldNames.toSeq == Seq("a", "m"))
    assert(Parquet.schema(spark, dir) == Some(spark.read.parquet(dir).schema))
    one(Seq((1L, 4L)).toDF("a", "cm"), "_common_metadata")
    assert(Parquet.schema(spark, dir).get.fieldNames.toSeq == Seq("a", "cm"))
    assert(Parquet.schema(spark, dir) == Some(spark.read.parquet(dir).schema))
  }

  test("partitioned and glob layouts: partition columns still come from path discovery") {
    import spark.implicits._
    val dir = tmpDir("graft_parts_")
    (1 to 20).map(i => (i.toLong, s"v$i", i % 3, if (i % 2 == 0) "even" else "odd"))
      .toDF("id", "v", "cell", "kind")
      .write.partitionBy("cell", "kind").parquet(s"$dir/index")
    assertSameAsInferred(s"$dir/index", Seq("cell", "kind"))
    assert(Parquet.read(spark, s"$dir/index").schema.fieldNames.toSeq ==
      Seq("id", "v", "cell", "kind"))
    assert(Parquet.read(spark, s"$dir/index").schema("cell").dataType == IntegerType)
    assert(Parquet.schema(spark, s"$dir/index").get.fieldNames.toSeq == Seq("id", "v"))
    assertSameAsInferred(s"$dir/index/cell=1", Seq("kind"))
    Seq(1, 2).foreach { c =>
      (1 to 3).map(i => (c.toLong, i.toLong)).toDF("commit", "n")
        .write.parquet(s"$dir/log/commit-$c/manifest")
    }
    assertSameAsInferred(s"$dir/log/commit-*/manifest")
    assert(Parquet.read(spark, s"$dir/log/commit-*/manifest").count() == 6)
  }

  test("a missing path and a directory without data files fail as the bare read does") {
    val empty = tmpDir("graft_empty_")
    val onlyMarkers = tmpDir("graft_markers_")
    Files.createFile(java.nio.file.Paths.get(onlyMarkers, "_SUCCESS"))
    Files.createFile(java.nio.file.Paths.get(onlyMarkers, ".part-0.parquet.crc"))
    for (p <- Seq(s"$empty/missing", empty, onlyMarkers, s"$empty/commit-*/manifest")) {
      val bare = intercept[Exception](spark.read.parquet(p))
      val ours = intercept[Exception](Parquet.read(spark, p))
      assert(ours.getClass == bare.getClass, p)
      assert(ours.asInstanceOf[SparkThrowable].getCondition ==
        bare.asInstanceOf[SparkThrowable].getCondition, p)
      assert(Parquet.schema(spark, p).isEmpty, p)
    }
  }
}
