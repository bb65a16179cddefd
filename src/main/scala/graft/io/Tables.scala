package graft.io

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ParquetSchemaBridge
import org.apache.spark.sql.types.StructType

/** The one batch parquet loader. `spark.read.parquet(path)` with no schema
  * infers it with a Spark job (a one-task `parallelize(...).collect()` that
  * reads a single footer); on the small reads of the alerts cycle that job's
  * fixed cost is most of the read. `Tables` reads the same footer on the
  * driver instead and pins the result, so building a read starts no job.
  *
  * The footer is the one Spark's inference touches with `mergeSchema` off
  * (`ParquetUtils.inferSchema`): a `_common_metadata` summary file, else a
  * `_metadata` one, else the first data file by full path, among the files
  * Spark's file index lists (names starting with `_` or `.` are hidden). It
  * is converted under the session's SQL conf, so `nanosAsLong`,
  * `binaryAsString`, `int96AsTimestamp` and the Spark schema stored in the
  * footer act as in inference. Partition columns come from the directory
  * names, typed and placed (last) as inference places them.
  *
  * Stateless on purpose: there is no schema cache. A path overwritten in
  * place (`mode("overwrite")`) would serve a stale schema, and the alerts
  * cycle reads fresh paths every cycle, so a cache would not hit anyway.
  *
  * A path with nothing to read — missing, or a directory with no data
  * file — goes to `spark.read.parquet` unchanged, so callers see Spark's own
  * error. A glob path goes there too (inferred, with its job). */
object Tables {

  /** The schema `spark.read.parquet(path)` would infer, without a job. */
  def schema(spark: SparkSession, path: String): StructType =
    pinnedSchema(spark, path).getOrElse(spark.read.parquet(path).schema)

  /** `spark.read.parquet(path)` with the schema pinned from one footer. */
  def read(spark: SparkSession, path: String): DataFrame =
    pinnedSchema(spark, path) match {
      case Some(s) => read(spark, path, s)
      case None    => spark.read.parquet(path)
    }

  /** A read whose caller already knows its schema (a dataset's encoder
    * schema); no footer is opened. */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

  private def pinnedSchema(spark: SparkSession, path: String): Option[StructType] = {
    val p = new Path(path)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) None
    else {
      val (files, partitions) = ParquetSchemaBridge.listing(spark, p)
      schemaFile(files).map { f =>
        val data = ParquetSchemaBridge.footerSchema(spark, f)
        StructType(data ++ partitions.filterNot(c => data.fieldNames.contains(c.name)))
      }
    }
  }

  /** `ParquetUtils.inferSchema`'s choice: over the files sorted by full
    * path, a `_common_metadata` summary file, else a `_metadata` one, else
    * the first data file. */
  private def schemaFile(files: Seq[FileStatus]): Option[FileStatus] = {
    val sorted = files.sortBy(_.getPath.toString)
    def named(n: String) = sorted.find(_.getPath.getName == n)
    named("_common_metadata").orElse(named("_metadata")).orElse(sorted.find { f =>
      val n = f.getPath.getName
      n != "_common_metadata" && n != "_metadata"
    })
  }
}
