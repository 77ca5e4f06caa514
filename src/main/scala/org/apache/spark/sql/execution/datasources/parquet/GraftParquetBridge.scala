package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Bridge to the parquet footer reader that schema inference uses —
  * `ParquetFileFormat.readParquetFootersInParallel` is private[parquet].
  * Lives in that package for access; no Spark internals are modified. */
object GraftParquetBridge {

  /** Whether the session merges schemas over every part file
    * (`spark.sql.parquet.mergeSchema`), which one footer cannot give. */
  def mergesSchemas(spark: SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.isParquetSchemaMergingEnabled

  /** The schema inference reads from `file`'s footer, read on the driver:
    * Spark's own footer reader and converter, set from the session conf
    * at call time exactly as `ParquetFileFormat.mergeSchemasInParallel`
    * sets them, returned `asNullable` as the relation exposes it. None
    * when the footer is unreadable and `spark.sql.files.ignoreCorruptFiles`
    * is on; otherwise an unreadable footer throws Spark's exception. */
  def footerSchema(spark: SparkSession, file: FileStatus): Option[StructType] = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val conf = state.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    ParquetFileFormat.readParquetFootersInParallel(
        state.newHadoopConf(), Seq(file), conf.ignoreCorruptFiles)
      .headOption.map(ParquetFileFormat.readSchemaFromFooter(_, converter).asNullable)
  }
}
