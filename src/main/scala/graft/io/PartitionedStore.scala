package graft.io

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Hive-style directory-partitioned parquet layout with DYNAMIC partition
  * overwrite — the other storage-side half of the 100-TB story (BucketedStore
  * handles the join axis; this handles the time/ingest axis):
  *
  *   - an incremental run writes only the partitions present in its input
  *     frame, replacing exactly those directories and leaving every other
  *     partition untouched (reruns are idempotent per partition — the
  *     daily-backfill contract);
  *   - readers filtering on the partition column prune at PLANNING time
  *     from directory metadata (`PartitionFilters` on the scan — zero data
  *     files of other partitions are opened, let alone read);
  *   - file counts per partition are explicit: rows are repartitioned on
  *     the partition expression before the write, so a partition is one
  *     file by default, or `filesPerPartition` files via a caller-supplied
  *     salt for partitions too large for one writer task (the skewed-day
  *     knob). Without the shaping repartition, every upstream task writes
  *     a sliver of every partition — the small-files explosion that kills
  *     object-store listings at scale.
  *
  * The STATIC overwrite mode (Spark's default) would wipe the entire root
  * on every write; this store requests the dynamic mode as a PER-WRITE
  * DataFrameWriter option — never by mutating the session conf — so
  * concurrent writers relying on static semantics are untouched and there
  * is no set/restore window to interleave.
  */
object PartitionedStore {

  /** Write `df` partitioned by `partCol`, dynamically overwriting exactly
    * the partitions present in `df`. `salt` (a high-cardinality column;
    * taken modulo `filesPerPartition`) splits each partition across UP TO
    * that many writer tasks/files — the shaping exchange hashes the
    * (partition, salt-bucket) composite, so distinct buckets of one
    * partition may still collide into one task (fewer, larger files —
    * never more). The explicit partition count on the salted repartition
    * keeps AQE from coalescing the split away on small inputs. */
  def writePartitioned(df: DataFrame, basePath: String, partCol: String,
                       filesPerPartition: Int = 1,
                       salt: Option[Column] = None): Unit = {
    require(filesPerPartition >= 1, "filesPerPartition must be >= 1")
    require(filesPerPartition == 1 || salt.isDefined,
      "filesPerPartition > 1 needs a salt column to split writer tasks")
    val spark = df.sparkSession
    val shaped = salt match {
      case Some(s) =>
        val n = math.max(
          spark.conf.get("spark.sql.shuffle.partitions").toInt,
          filesPerPartition)
        df.repartition(n, col(partCol), pmod(s, lit(filesPerPartition)))
      case None => df.repartition(col(partCol))
    }
    shaped.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(basePath)
  }

  /** Read the partitioned layout; filters on the partition column prune
    * directories at planning time (PartitionedStoreSpec locks the
    * `PartitionFilters` evidence). */
  def readPartitioned(spark: SparkSession, basePath: String): DataFrame =
    Tables.read(spark, basePath)
}
