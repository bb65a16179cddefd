package graft.io

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed table layout for shuffle-free co-located joins — the storage-side
  * half of the 100-TB join story. Writing both sides of a recurring join
  * bucketed (and sorted) by the join key means every subsequent join of the
  * two tables is planned WITHOUT an Exchange on either side: each task
  * merge-joins bucket i of A against bucket i of B straight off the scan.
  * One shuffle is paid once at write time instead of on every query.
  *
  * Uses Spark-native datasource bucketing (works on the in-memory catalog —
  * no Hive metastore needed; the bucket spec lives in the table catalog
  * entry). Bucket counts of the two sides must match, and at scale should be
  * sized so one bucket of the larger table fits an executor core's working
  * memory (buckets are not further split by maxPartitionBytes).
  */
object BucketedStore {

  /** Save `df` as a bucketed, per-bucket-sorted parquet table. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    numBuckets: Int, path: String): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("path", path)
      .bucketBy(numBuckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Join two same-bucket-count tables on their bucket key as a merge join.
    * The merge hint pins the join strategy the bucket layout exists for:
    * left to size-based planning, a small side would flip to broadcast and
    * the planner then DISABLES the bucketed read entirely ("Bucketed: false
    * (disabled by query planner)"), silently discarding the layout. With
    * the hint the plan contains no Exchange under the join (asserted by
    * BucketedSpec, with a shuffling negative control) — each task
    * merge-joins bucket i of A against bucket i of B straight off the
    * scans; at most a per-bucket Sort appears when a bucket spans multiple
    * files. */
  def colocatedJoin(spark: SparkSession, leftTable: String, rightTable: String,
                    key: String): DataFrame =
    spark.table(leftTable).hint("merge")
      .join(spark.table(rightTable), key)

  /** Compact a parquet directory into ~`targetFileRows`-row files, sorted
    * and range-partitioned by `sortKey` — the small-files remediation every
    * long-running ingest needs (a streaming or incremental writer leaves
    * thousands of KB-scale files; scans then pay a task per file and the
    * driver pays listing + footer reads for each).
    *
    * repartitionByRange keeps the global sort order across files (min/max
    * footer stats stay disjoint ⇒ downstream range predicates prune whole
    * files), and maxRecordsPerFile bounds each task's output. Writes to
    * `outPath` — publish-by-rename/pointer is the caller's move (see
    * [[StageStore]] for the atomic-pointer pattern); compacting in place
    * would destroy the source on failure. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              sortKey: String, targetFileRows: Long,
              numFiles: Int): Unit =
    Tables.read(spark, inPath)
      .repartitionByRange(numFiles, org.apache.spark.sql.functions.col(sortKey))
      .sortWithinPartitions(sortKey)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", targetFileRows)
      .parquet(outPath)

  /** Morton z-value of the per-column ranks: bit i of rank c lands at
    * position i·numCols + c, so files sorted by the value are locality-
    * clustered in EVERY rank dimension at once. */
  private def zOrderValue(ranks: Seq[Column], bits: Int): Column = {
    val n = ranks.length
    val terms = for { i <- 0 until bits; (r, c) <- ranks.zipWithIndex }
      yield shiftleft(shiftright(r, i).bitwiseAND(lit(1L)), i * n + c)
    terms.reduce(_ + _)
  }

  /** Z-order (multi-column) clustered layout: a single-key sorted layout
    * prunes parquet files only on its LEADING key — every file's min/max
    * range on a second column spans the whole domain. Z-ordering interleaves
    * the bits of each column's rank into one Morton value and range-
    * partitions + sorts by it, so each file covers a small hyper-rectangle:
    * min/max footer stats become selective on EVERY z-column and a range
    * predicate on any of them prunes most files (the layout trick Delta's
    * OPTIMIZE ZORDER popularised; public technique).
    *
    * Ranks are linear min/max buckets (2^bits per column) — one tiny stats
    * aggregate broadcast into a pure map, no global sort or ntile window, so
    * the whole write costs one pass + one range shuffle at any scale. Linear
    * bucketing is rank-faithful for roughly uniform columns; feed a
    * pre-quantised rank column for heavily skewed ones. `bits × cols` must
    * fit a long (≤ 62). */
  def writeZOrdered(df: DataFrame, zCols: Seq[String], bits: Int,
                    numFiles: Int, outPath: String): Unit = {
    require(zCols.nonEmpty && bits > 0 && bits * zCols.length <= 62,
      "need 1+ columns and bits*cols <= 62")
    val aggs = zCols.flatMap(c =>
      Seq(min(col(c)).cast("double").as(s"__mn_$c"),
        max(col(c)).cast("double").as(s"__mx_$c")))
    val stats = df.agg(aggs.head, aggs.tail: _*)
    val buckets = (1L << bits) - 1
    val ranks = zCols.map { c =>
      val mn = col(s"__mn_$c"); val mx = col(s"__mx_$c")
      val scaled = (col(c).cast("double") - mn) /
        when(mx > mn, mx - mn).otherwise(lit(1.0))
      // NULLs rank 0 EXPLICITLY: least() skips nulls, so a null value would
      // otherwise silently land in the TOP bucket and smear that corner's
      // file stats. Rank 0 clusters all-null rows at the z-origin — files
      // there carry them, every other file's min/max stays tight.
      when(col(c).isNull, lit(0L))
        .otherwise(least(floor(scaled * (buckets + 1)), lit(buckets)).cast("long"))
    }
    df.crossJoin(broadcast(stats))
      .withColumn("__z", zOrderValue(ranks, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .drop(zCols.flatMap(c => Seq(s"__mn_$c", s"__mx_$c")): _*)
      .write.mode(SaveMode.Overwrite)
      .parquet(outPath)
  }
}
