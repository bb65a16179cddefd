package graft.incremental

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental-computation operators: process only rows whose content changed
  * since the previous run, keep previously-computed results for the rest.
  *
  * Reference mechanism: `ServiceAlertBase.py:56-166` builds
  * `(index, checksum)` composite keys and boolean masks; the Spark-native
  * form is a pair of anti/semi joins on the composite key (SURVEY.md §2.2,
  * Ops 11-15). Both joins broadcast the smaller side automatically; at scale
  * the cache side is the big one, so the joins shuffle-partition on the key
  * columns — exactly the partitioning the downstream keep-last dedup needs,
  * letting Catalyst reuse the exchange.
  */
object Incremental {

  /** Op-11: rows in `data` that are new or changed w.r.t. `cache`
    * (left anti on the composite key). */
  def cacheDiff(data: DataFrame, cache: DataFrame,
                keys: Seq[String]): DataFrame =
    data.join(cache.select(keys.map(col): _*), keys, "left_anti")

  /** Op-12: cached results whose input row still exists unchanged
    * (left semi on the composite key). */
  def cacheRetain(cache: DataFrame, data: DataFrame,
                  keys: Seq[String]): DataFrame =
    cache.join(data.select(keys.map(col): _*), keys, "left_semi")

  /** Op-13: bounded work per run. The reference takes a positional
    * `tail(limit)` of a frame pre-sorted by publish date
    * (`ServiceAlertBase.py:155-156`); here the ordering is explicit so the
    * limit is deterministic. */
  def workLimit(df: DataFrame, order: Seq[Column], limit: Int): DataFrame =
    df.orderBy(order: _*).limit(limit)

  /** Op-14: merge freshly-computed rows with the retained cache, lazily:
    * building the merge runs no job, and a fresh side that is empty leaves
    * the kept rows, with nulls in the columns only `fresh` has. The
    * reference's "opportunistic skip" (`ServiceAlertBase.py:176-185`) is a
    * sink decision, taken on a bounded or persisted frame (the streaming
    * form skips on its persisted `changed` set): testing `fresh` here
    * would run its whole lineage — the drafting boundary, the geocode
    * cascade — once for the test and again for the write. */
  def merge(fresh: DataFrame, kept: DataFrame): DataFrame =
    fresh.unionByName(kept, allowMissingColumns = true)

  /** Op-15 (`ServiceAlertAugmenter.py:548-570`): when fewer than `want` new
    * rows arrived, backfill with cached rows that still miss a derived value:
    * newest `2*want` incomplete rows, then a deterministic pseudo-random
    * sample of `want`. Sampling is by md5 of the key — stable across engines
    * and runs (the reference's `DataFrame.sample` is impure; see SURVEY §5). */
  def backfillSample(cache: DataFrame, missing: Column, orderCol: Column,
                     keyCol: Column, want: Int): DataFrame =
    cache.where(missing)
      .orderBy(orderCol.desc, keyCol)
      .limit(2 * want)
      .orderBy(md5(keyCol.cast("string")), keyCol)
      .limit(want)
}
