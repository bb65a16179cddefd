package graft.streaming

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.incremental.Incremental
import graft.io.StageStore

/** The Augmenter nightly chain (reference ServiceAlertAugmenter.py:778-812
  * over ServiceAlertBase.py:123-166's checksum-incremental contract) as ONE
  * Structured Streaming job — the streaming form of q_ep3_pipeline, sharing
  * its stage boundaries verbatim:
  *
  *   - **source**: a parquet file stream over the fixed-stage snapshot
  *     directory (each scrape drops a new snapshot file; AvailableNow
  *     drains whatever is pending then stops — the Airflow-cadence
  *     analogue, as in [[ChangeStream.run]]). `maxFilesPerTrigger=1` keeps
  *     one snapshot per micro-batch, so a backlog of scrapes replays in
  *     publication order instead of collapsing into one batch where
  *     which-version-wins would be nondeterministic. The publication unit
  *     is ONE file per scrape (the reference writes one frame per run).
  *   - **checksum-state incremental** (Ops 9+11): the reference's `.prev`
  *     cache file becomes CHECKPOINTED STATE — [[checksumDiff]] keeps the
  *     latest WORKED checksum per alert id in `flatMapGroupsWithState` and
  *     emits a row only when its checksum differs, which is exactly
  *     `Incremental.cacheDiff` against a cache that survives across runs
  *     without ever being re-read or re-written as data. State carries an
  *     event-time timeout at the alert's expiry, so state size is bounded
  *     by the ACTIVE-alert horizon, not by every alert ever seen (the same
  *     bound StreamDedup's watermark gives its signature state).
  *   - **work limit + enrichment** (Ops 13, 53-59): per micro-batch in
  *     `foreachBatch` — the limit caps the work set exactly as the nightly
  *     job caps its, and the enrichment callback is the SAME chain the
  *     batch pipeline runs (`GeoQueries.ep3EnrichStage`). Changed rows
  *     beyond the limit are NOT silently dropped: the batch pipeline only
  *     advances its cache for worked rows so over-limit rows retry on the
  *     next run, and this job restores that contract by writing each
  *     dropped row as a ROLLBACK message into a retry file stream that is
  *     unioned with the snapshots. A rollback compare-and-swaps the row's
  *     state back to its pre-emission checksum (no-op if a newer snapshot
  *     has since advanced it), so the next scrape's copy of the row
  *     re-emits and re-enters the work-limit pool — deferred work is
  *     retried, never lost.
  *   - **cache merge** (Ops 12+14): the enriched rows upsert into a
  *     [[graft.io.StageStore]] — fresh rows override, unmatched cached rows
  *     ride through (`Incremental.merge` semantics), and the store's
  *     commit-marker versioning makes each micro-batch's merge an atomic
  *     publish. Replay safety: the rollback dir for a batch is published
  *     once under the same commit-marker convention (deterministic
  *     content, skip if the marker exists), and the store write is
  *     idempotent per version, so a crashed batch replays to the
  *     identical outcome. Rollback rows are re-stamped to the run's
  *     global input max event time so a multi-file backlog's watermark
  *     can never drop them as late on the next run (see
  *     [[publishRollbacks]]).
  *
  * StreamingSpec proves batch/streaming parity (same work set + enrichment
  * as q_ep3_pipeline on the same world), over-limit retry across a third
  * run, and expiry-driven state eviction.
  */
object StreamingAugmenter {

  /** One fixed-stage alert row: identity, scrape-sensitive fields, the
    * Op-9 checksum of those fields, the publish order the work limit sorts
    * by (all computed upstream by the Fixer stage), the scrape event time
    * (drives the watermark), and the alert's expiry (drives state TTL). */
  case class AlertSnapshot(id: Long, c_name: String, c_mktsegment: String,
                           ck: String, publish_ord: Long,
                           event_ts: Timestamp, expiry_ts: Timestamp)

  /** Internal stream message: a snapshot row (`kind=1`) or a rollback
    * (`kind=0`, produced by the work limit for a dropped emission).
    * `prev_ck` is the state checksum the emission replaced — a rollback
    * restores it iff the state still holds the dropped `ck` (CAS, so a
    * late rollback never clobbers a newer snapshot's state). */
  case class AugMsg(id: Long, c_name: String, c_mktsegment: String,
                    ck: String, publish_ord: Long,
                    event_ts: Timestamp, expiry_ts: Timestamp,
                    kind: Int, prev_ck: String)

  private val RollbackKind = 0
  private val SnapshotKind = 1

  /** Lift raw snapshot rows into the message stream. */
  def snapshotMsgs(snapshots: Dataset[AlertSnapshot]): Dataset[AugMsg] = {
    import snapshots.sparkSession.implicits._
    snapshots.map(s => AugMsg(s.id, s.c_name, s.c_mktsegment, s.ck,
      s.publish_ord, s.event_ts, s.expiry_ts, SnapshotKind, null))
  }

  /** Ops 9+11 as streaming state: emit a snapshot row iff its checksum
    * differs from the retained one for that id, then retain it — the cache
    * diff with the cache AS state. Emitted rows carry `prev_ck` = the
    * checksum they replaced, so a downstream work limit can roll dropped
    * rows back (see [[run]]). Rollback messages apply BEFORE the batch's
    * snapshot rows (kind-ordered) and compare-and-swap state to `prev_ck`.
    *
    * State TTL: each update arms an event-time timeout at the row's
    * `expiry_ts`; when the watermark (max event time − `watermarkDelay`)
    * passes an absent alert's expiry, its state is evicted — an expired id
    * re-sent later is treated as new. State is therefore bounded by the
    * active-alert horizon, the streaming analogue of the reference pruning
    * its cache file to live alerts. */
  def checksumDiff(msgs: Dataset[AugMsg],
                   watermarkDelay: String = "1 second"): Dataset[AugMsg] = {
    import msgs.sparkSession.implicits._
    msgs.withWatermark("event_ts", watermarkDelay)
      .groupByKey(_.id)
      .flatMapGroupsWithState[String, AugMsg](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, rows: Iterator[AugMsg], state: GroupState[String]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var cur = state.getOption
            // rollbacks first, then snapshots in publish order — one
            // snapshot file per batch keeps this a determinism guard
            val sorted = rows.toSeq.sortBy(r => (r.kind, r.publish_ord, r.ck))
            val out = sorted.flatMap { r =>
              if (r.kind == RollbackKind) {
                if (cur.contains(r.ck)) cur = Option(r.prev_ck)
                None
              } else if (!cur.contains(r.ck)) {
                val emitted = r.copy(prev_ck = cur.orNull)
                cur = Some(r.ck)
                Some(emitted)
              } else None
            }
            cur match {
              case Some(ck) =>
                state.update(ck)
                val expiry = sorted.map(_.expiry_ts.getTime).max
                state.setTimeoutTimestamp(
                  math.max(expiry, state.getCurrentWatermarkMs() + 1))
              case None => if (state.exists) state.remove()
            }
            out.iterator
          }
      }
  }

  /** Ops 12+14 per micro-batch: upsert `fresh` into the cache store. The
    * previous version's unmatched rows ride through with nulls for the
    * enrichment columns they predate (the unionByName allowMissingColumns
    * passthrough, as in the batch pipeline's kept rows); an empty batch
    * skips the write entirely (Op-14's skip). */
  def mergeIntoCache(store: StageStore, fresh: DataFrame, version: Long): Unit = {
    val merged =
      if (store.versions().isEmpty) fresh
      else fresh.unionByName(
        store.readLatest().join(fresh.select("id"), Seq("id"), "left_anti"),
        allowMissingColumns = true)
    store.write(merged, version)
    ()
  }

  private def rollbackMarker(retryPath: String, batchId: Long) =
    new Path(s"$retryPath/_committed-b$batchId")

  /** Publish one batch's dropped-row rollbacks exactly once, with two
    * hard-won properties:
    *
    * **Watermark-safe re-stamp.** Rollback rows are re-stamped to
    * `runMaxTs` — the max `event_ts` across EVERY snapshot file visible at
    * run start (not the batch's own max, and not the max of emitted rows).
    * The next run's starting watermark is exactly that global max minus the
    * delay: a multi-file backlog advances it past every earlier batch, and
    * a batch whose rows are all checksum-suppressed still advances it (the
    * watermark tracks INPUT event times), so any smaller stamp can make
    * FlatMapGroupsWithStateExec silently drop the rollback as late data —
    * permanently losing the deferred work. Stamping at the run's input max
    * also never advances the next run's watermark beyond where processing
    * has already pushed it, so no snapshot row becomes late that wasn't.
    *
    * **Object-store-safe commit.** Publication is StageStore's
    * commit-marker convention (io/StageStore.scala:30), not a directory
    * rename: part files are written straight into the destination (they
    * are invisible to the retry stream until the run() listing sees the
    * marker), then a `_committed-b<id>` marker object lands as the single
    * atomic publish. Directory rename is atomic on HDFS/local but
    * per-object copy on object stores — a crash mid-rename there leaves a
    * half-visible dir; a crash mid-write here leaves an UNMARKED dir that
    * the next attempt detects (marker absent), wipes, and rewrites.
    * Replay safety: content is deterministic per batch, so a marked dir is
    * skipped verbatim. Distributed write, no coalesce: the remainder is
    * changed-set-sized at worst. */
  private def publishRollbacks(dropped: DataFrame, retryPath: String,
                               batchId: Long, runMaxTs: Timestamp): Unit = {
    val spark = dropped.sparkSession
    val fs = new Path(retryPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = rollbackMarker(retryPath, batchId)
    if (!fs.exists(marker)) {
      val dst = new Path(s"$retryPath/b$batchId")
      if (fs.exists(dst)) fs.delete(dst, true) // unmarked = half-published
      dropped.withColumn("event_ts", lit(runMaxTs))
        .write.parquet(dst.toString)
      fs.create(marker, true).close()
    }
    ()
  }

  /** The composed job. `enrich` receives each micro-batch's work-limited
    * frame (id, c_name, c_mktsegment, ck, publish_ord) and returns enriched
    * rows keyed by id — pass `GeoQueries.ep3EnrichStage(_, cells)` for the
    * full Augmenter chain. Each batch: limit → rollback the remainder →
    * enrich → atomic cache-merge publish under version = batchId + 1
    * (monotone, deterministic). Rollbacks written during a run are outside
    * the run's AvailableNow offset latch, so — like the nightly batch job —
    * deferred rows are retried on the NEXT run, alongside that run's fresh
    * scrape. */
  def run(spark: SparkSession, inputPath: String, retryPath: String,
          checkpoint: String, cacheRoot: String, limit: Int,
          enrich: DataFrame => DataFrame,
          watermarkDelay: String = "1 second"): StreamingQuery = {
    import spark.implicits._
    val snapSchema = implicitly[org.apache.spark.sql.Encoder[AlertSnapshot]].schema
    val msgSchema = implicitly[org.apache.spark.sql.Encoder[AugMsg]].schema
    val fs = new Path(retryPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(retryPath))
    // the rollback re-stamp (see publishRollbacks): global input max as of
    // run start. Computed BEFORE the query starts so it covers exactly the
    // files the AvailableNow latch will process — a snapshot published
    // between this read and query start would be under-stamped, so snapshot
    // publication must not race run startup (the nightly cadence never
    // does). None ⇔ no snapshot files ⇔ no batch can drop rows.
    val runMaxTs: Option[Timestamp] = {
      val in = new Path(inputPath)
      val inFs = in.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!inFs.exists(in)) None
      else Option(spark.read.schema(snapSchema).parquet(inputPath)
        .agg(max(col("event_ts"))).head().getTimestamp(0))
    }
    val snapshots = spark.readStream.schema(snapSchema)
      .option("maxFilesPerTrigger", 1).parquet(inputPath)
      .as[AlertSnapshot]
    // no rate limit on the retry side: rollbacks are per-id compare-and-swap
    // messages — order-independent and idempotent — and every pending one
    // must land in the first batch so the snapshot arriving alongside sees
    // the restored state (a rollback alone emits nothing; only a snapshot
    // row can re-emit the deferred work).
    // Only COMMITTED batch dirs are watched: a dir without its
    // `_committed-b<id>` marker is a half-published crash remnant and must
    // stay invisible (the marker listing here is the reader half of
    // publishRollbacks' commit protocol). Listing at run start matches the
    // AvailableNow latch — rollbacks published during this run are
    // deliberately next-run work, like the nightly job's retry.
    val committedDirs = fs.listStatus(new Path(retryPath)).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith("_committed-"))
      .map(_.stripPrefix("_committed-"))
      .sorted
    fs.mkdirs(new Path(s"$retryPath/__none__"))
    val retryGlob =
      if (committedDirs.isEmpty) s"$retryPath/__none__/*.parquet"
      else s"$retryPath/{${committedDirs.mkString(",")}}/*.parquet"
    val rollbacks = spark.readStream.schema(msgSchema)
      .parquet(retryGlob)
      .as[AugMsg]
    val store = new StageStore(spark, cacheRoot)
    val ctl = Seq("event_ts", "expiry_ts", "kind", "prev_ck")
    checksumDiff(snapshotMsgs(snapshots).unionByName(rollbacks), watermarkDelay)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[AugMsg], batchId: Long) =>
        val changed = batch.toDF().persist()
        try {
          // Op-14 skip: AvailableNow emits a trailing empty batch — merging
          // it would write a new cache version with zero fresh rows
          if (!changed.isEmpty) {
            val work = Incremental.workLimit(changed,
              Seq(col("publish_ord").desc, col("id")), limit).persist()
            try {
              val dropped = changed
                .join(work.select("id"), Seq("id"), "left_anti")
                .withColumn("kind", lit(RollbackKind))
              if (!dropped.isEmpty)
                publishRollbacks(dropped, retryPath, batchId, runMaxTs.get)
              mergeIntoCache(store, enrich(work.drop(ctl: _*)), batchId + 1)
            } finally { work.unpersist(); () }
          }
        } finally { changed.unpersist(); () }
      }
      .start()
  }
}
