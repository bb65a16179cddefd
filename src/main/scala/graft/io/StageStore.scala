package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned parquet stage store with retention and an atomic latest pointer.
  *
  * Reference: `ServiceAlertBase.py:170-202` writes each run under a
  * timestamped key, prunes to the newest 5, and refreshes a `current/`
  * convenience copy (SURVEY.md Op-5).
  *
  * Publishing protocol: each version directory is written exactly ONCE, then
  * committed by creating a tiny empty marker file `_committed-v=<id>`. A
  * single-file create is atomic on posix/HDFS and on object stores (a key
  * either exists or it doesn't), so readers resolve "latest" to the highest
  * COMMITTED version — an immutable, fully-written directory. No reader can
  * ever observe a half-written "latest", and there is no second data copy
  * (the previous design wrote every version twice and let readers race the
  * `latest/` overwrite). Retention deletes the marker before its directory,
  * so a version disappears from resolution before its bytes go away.
  */
class StageStore(spark: SparkSession, root: String, retain: Int = 5) {

  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def markerPath(v: Long) = new Path(s"$root/_committed-v=$v")

  /** Write one version; returns its path. `versionId` must be monotonically
    * increasing (the caller injects the clock — deterministic in tests). */
  def write(df: DataFrame, versionId: Long): String = {
    backfillLegacyMarkers()
    val dir = s"$root/v=$versionId"
    df.write.mode("overwrite").parquet(dir)
    fs.create(markerPath(versionId), true).close() // atomic publish
    prune()
    dir
  }

  /** Upgrade path, part 2: the FIRST marker written into a legacy store
    * would otherwise strand every pre-marker version dir (markers become
    * authoritative, the unmarked dirs drop out of versions() and are never
    * pruned). Before our own marker lands, promote the legacy dirs to
    * committed — they were fully written by the old double-write code. */
  private def backfillLegacyMarkers(): Unit = {
    val p = new Path(root)
    if (!fs.exists(p)) return
    val names = fs.listStatus(p).toSeq.map(_.getPath.getName)
    if (names.exists(_.matches("_committed-v=\\d+"))) return
    legacyCompleteVersions(names)
      .foreach(v => fs.create(markerPath(v), true).close())
  }

  /** Newest-first COMMITTED version ids (uncommitted/partial directories are
    * invisible by construction). Upgrade path: a store written before the
    * commit-marker scheme has version dirs but NO markers at all — those
    * dirs were fully written by the old double-write code, so treat them as
    * committed rather than stranding the data (they re-enter retention and
    * readLatest immediately; the next write() publishes markers as usual).
    * Once any marker exists, markers are authoritative: an unmarked dir
    * alongside markers is a dead partial write. */
  def versions(): Seq[Long] = {
    val p = new Path(root)
    if (!fs.exists(p)) return Seq.empty
    val names = fs.listStatus(p).toSeq.map(_.getPath.getName)
    val marked = names.filter(_.matches("_committed-v=\\d+"))
      .map(_.stripPrefix("_committed-v=").toLong)
    val ids =
      if (marked.nonEmpty) marked
      else legacyCompleteVersions(names)
    ids.sorted(Ordering[Long].reverse)
  }

  /** Zero-marker fallback, restricted to dirs the OLD writer finished: a
    * legacy-complete dir carries parquet's _SUCCESS commit file, a write
    * that died mid-flight does not — so new-scheme partial first writes are
    * NOT promoted (that would make the corruption permanent). Non-numeric
    * sibling dirs (v=backup etc.) are ignored, not parsed. */
  private def legacyCompleteVersions(names: Seq[String]): Seq[Long] =
    names.filter(_.matches("v=\\d+"))
      .map(_.stripPrefix("v=").toLong)
      .filter(v => fs.exists(new Path(s"$root/v=$v/_SUCCESS")))

  /** Op-5 retention: drop all but the newest `retain` versions — marker
    * first (removes the version from resolution), then the data. */
  def prune(): Unit =
    versions().drop(retain).foreach { v =>
      fs.delete(markerPath(v), false)
      fs.delete(new Path(s"$root/v=$v"), true)
    }

  /** Resolve and read the newest committed version. */
  def readLatest(): DataFrame = {
    val vs = versions()
    require(vs.nonEmpty, s"no committed versions under $root")
    read(vs.head)
  }

  /** Read one version. Its schema comes from a footer on the driver
    * ([[Tables]]), so resolving and reading a version starts no job. */
  def read(versionId: Long): DataFrame = Tables.read(spark, s"$root/v=$versionId")
}
