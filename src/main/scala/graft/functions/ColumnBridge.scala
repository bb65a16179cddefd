package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Classic-API bridge: Spark 4's `Column` no longer exposes `.expr`
  * publicly (Connect-compatible façade); `ExpressionUtils` does the
  * conversion but is `private[sql]`, so this one-file shim re-exports the
  * two functions the engine needs for registering custom expressions. */
object ColumnBridge {
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)
}

/** Custom-LogicalPlan bridge: wrapping a hand-built logical node back into
  * a DataFrame needs `Dataset.ofRows`, which is `private[sql]` in the
  * classic implementation — same shim pattern as [[ColumnBridge]]. */
object PlanBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed
}

/** Planner-conf bridge: size-gated operator dispatch needs the SAME
  * broadcast threshold the planner uses; `sessionState` is `private[sql]`,
  * hence this shim (the string-conf form would re-implement byte-suffix
  * parsing the session already did). */
object ConfBridge {
  def autoBroadcastThreshold(spark: org.apache.spark.sql.SparkSession): Long =
    spark.sessionState.conf.autoBroadcastJoinThreshold
}

/** Registers [[graft.functions.GraftExtensions]]' SQL functions on an
  * ALREADY-BUILT session (the extensions hook only runs at session build
  * time; `sessionState` is `private[sql]`, hence this bridge). Same builder
  * triples as the extensions path — one definition, two wire-ups. */
object FunctionInstaller {
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.functions.GraftExtensions.functions.foreach { case (id, info, b) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, b)
    }
}

/** Parquet footer bridge for [[graft.io.Tables]]: the file listing and the
  * footer conversion that `spark.read.parquet`'s schema inference uses.
  * `listing` is Spark's own file index (hidden-file rules, Hive-style
  * partition discovery and partition column types included). `footerSchema`
  * builds the converter as `ParquetFileFormat.mergeSchemasInParallel` does,
  * from the session's SQL conf (binaryAsString, int96AsTimestamp,
  * inferTimestampNTZ, nanosAsLong, respectUnknownTypeAnnotation), and
  * `readSchemaFromFooter` prefers the Spark schema stored in the footer, as
  * inference does. A read relation makes an inferred schema nullable
  * throughout but keeps a pinned one as given, so the result is made
  * nullable here. `sessionState` and `asNullable` are Spark-private, hence
  * this shim. */
object ParquetSchemaBridge {
  import org.apache.hadoop.fs.{FileStatus, Path}
  import org.apache.parquet.format.converter.ParquetMetadataConverter
  import org.apache.parquet.hadoop.Footer
  import org.apache.parquet.hadoop.util.HadoopInputFile
  import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
  import org.apache.spark.sql.execution.datasources.parquet.{
    ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
  import org.apache.spark.sql.types.StructType

  /** The files and the partition schema Spark's file index finds under
    * `path` (listed on the driver, as the read itself lists them). */
  def listing(spark: org.apache.spark.sql.SparkSession, path: Path)
      : (Seq[FileStatus], StructType) = {
    val index = new InMemoryFileIndex(spark, Seq(path), Map.empty, None)
    (index.allFiles(), index.partitionSchema)
  }

  def footerSchema(spark: org.apache.spark.sql.SparkSession,
                   file: FileStatus): StructType = {
    val conf = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, spark.sessionState.newHadoopConf()),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer), converter)
      .asNullable
  }
}
