package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.types.StructType

/** Parquet reads whose schema comes from one footer read on the driver.
  *
  * `spark.read.parquet(path)` without a schema infers it with a Spark job
  * (`ParquetFileFormat.mergeSchemasInParallel`), even for a single file
  * with `mergeSchema` off — so every bare read made building a DataFrame
  * run a job. [[read]] reads the footer that inference would read, on the
  * driver, and hands the schema to `spark.read.schema(...)`: no job, and
  * the same frame. The footer is the one `ParquetUtils.inferSchema`
  * chooses: `_common_metadata`, else `_metadata`, else the first data
  * file in path order, skipping `_`- and `.`-prefixed names as Spark's
  * file index does. Only the data columns come from the footer; partition
  * columns of `key=value` directories (and glob layouts) still come from
  * Spark's path discovery. Conversion follows the session conf at call
  * time, so `spark.sql.legacy.parquet.nanosAsLong` set before the call
  * takes effect.
  *
  * When there is nothing to read the footer of — a missing path, a
  * directory without data files — or the session merges schemas, [[read]]
  * is the bare `spark.read.parquet(path)`, so it fails (or merges) exactly
  * as Spark does. The files are listed twice, once here and once by
  * Spark's file index: cheap on a driver next to a job, but a cost on an
  * object store with many files. */
object Parquet {

  def read(spark: SparkSession, path: String): DataFrame =
    schema(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The data schema `spark.read.parquet(path)` would infer, or None when
    * the driver cannot give it without a job (see [[read]]). */
  def schema(spark: SparkSession, path: String): Option[StructType] =
    if (GraftParquetBridge.mergesSchemas(spark)) None
    else footerFile(spark, path).flatMap(GraftParquetBridge.footerSchema(spark, _))

  /** The schema in `file`'s footer, converted as [[schema]] converts it. */
  def footerSchema(spark: SparkSession, file: String): StructType = {
    val p = new Path(file)
    val status = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    GraftParquetBridge.footerSchema(spark, status).getOrElse(
      throw new java.io.IOException(s"unreadable parquet footer: $file"))
  }

  /** Spark's `InMemoryFileIndex.shouldFilterOutPathName`. */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !name.startsWith("_common_metadata") && !name.startsWith("_metadata")

  /** The file whose footer inference reads, if `path` (or its glob)
    * holds one. None for a streaming file sink's output as well: Spark
    * lists that from the sink's `_spark_metadata` log, not the directory. */
  private def footerFile(spark: SparkSession, path: String): Option[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var sinkLog = false
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else {
        val children = fs.listStatus(st.getPath).toSeq
        sinkLog ||= children.exists(_.getPath.getName == "_spark_metadata")
        children.filterNot(c => hidden(c.getPath.getName)).flatMap(leaves)
      }
    val roots = Option(fs.globStatus(p)).toSeq.flatten
      .filterNot(st => st.isFile && hidden(st.getPath.getName))
    val files = roots.flatMap(leaves).sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    if (sinkLog) None
    else named("_common_metadata").orElse(named("_metadata")).orElse(
      files.find(f => !Set("_common_metadata", "_metadata")(f.getPath.getName)))
  }
}
