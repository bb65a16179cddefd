package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.io.Tables

/** The reference's event-driven side re-expressed as Structured Streaming.
  *
  * Reference: `cct_recon/alerts-recon.py` — on each new snapshot, diff
  * (Id, status) pairs against a `.prev` state file, emit the new pairs to 3
  * versioned JSON documents and an SNS topic (SURVEY.md §2.9, Ops 61-63).
  * Here the `.prev` file becomes checkpointed state: `dropDuplicates` state
  * for the simple form, `flatMapGroupsWithState` keeping latest-status-by-id
  * for the upsert form. `Trigger.AvailableNow` mirrors the reference's
  * 10-minute micro-batch cadence without a long-running cluster job.
  */
object ChangeStream {

  /** Op-61 (stateless API form): emit each (id, status) pair the first time
    * it is seen; the watermark bounds state for late data. */
  def newStatusPairs(events: DataFrame, idCol: String, statusCol: String,
                     tsCol: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicates(idCol, statusCol)

  case class AlertState(id: Long, status: String, ts: java.sql.Timestamp)
  case class StatusChange(id: Long, prevStatus: Option[String], status: String)

  /** Op-61 (stateful upsert form): track the latest status per id and emit a
    * [[StatusChange]] only on transitions — exactly the reference's
    * "reprocess on change, keep latest by Id" semantics. */
  def statusTransitions(events: Dataset[AlertState]): Dataset[StatusChange] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.id)
      .flatMapGroupsWithState[String, StatusChange](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id: Long, rows: Iterator[AlertState], state: GroupState[String]) =>
          val sorted = rows.toSeq.sortBy(_.ts.getTime)
          var cur = state.getOption
          val out = sorted.flatMap { r =>
            if (!cur.contains(r.status)) {
              val change = StatusChange(id, cur, r.status)
              cur = Some(r.status)
              Some(change)
            } else None
          }
          cur.foreach(state.update)
          out.iterator
      }
  }

  /** Op-62: per-record versioned fan-out — each API version drops the
    * columns it predates (alerts-recon.py:50-81). */
  def versionedFanOut(batch: DataFrame): Map[String, DataFrame] = Map(
    "v1" -> batch.drop("geospatial_footprint", "area_type", "status"),
    "v1.1" -> batch.drop("status"),
    "v1.2" -> batch)

  /** Op-63: conditional notify — invoke `notify` with the new ids only when
    * the batch is non-empty (SNS publish analogue). A notification payload
    * is inherently driver-side, but the collect is DEFENSIVELY CAPPED: a
    * malformed upstream emitting millions of "changes" must degrade to a
    * truncated notification, not a driver OOM. `maxIds` bounds the payload
    * (the reference's SNS message has the same practical cap). */
  def notifyIfAny(batch: DataFrame, idCol: String, maxIds: Int = 10000)
                 (notify: Seq[Long] => Unit): Unit = {
    val ids = batch.select(col(idCol).cast("long"))
      .orderBy(col(idCol)) // deterministic truncation
      .limit(maxIds)
      .collect().map(_.getLong(0)).toSeq
    if (ids.nonEmpty) notify(ids)
  }

  /** Full wiring: parquet snapshot stream → first-seen pairs → foreachBatch
    * fan-out + notify, with AvailableNow so each run drains pending input
    * then stops (the Airflow-cadence analogue). */
  def run(spark: SparkSession, inputPath: String, checkpoint: String,
          watermark: String, sink: (String, DataFrame) => Unit,
          notify: Seq[Long] => Unit): StreamingQuery = {
    val schema = Tables.schema(spark, inputPath)
    val stream = spark.readStream.schema(schema).parquet(inputPath)
    newStatusPairs(stream, "Id", "status", "ts", watermark)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val cached = batch.persist()
        try {
          // opportunistic skip (Op-14 analogue): AvailableNow emits a trailing
          // empty batch — writing it would clobber the documents with []
          if (!cached.isEmpty) {
            versionedFanOut(cached).foreach { case (v, df) => sink(v, df) }
            notifyIfAny(cached, "Id")(notify)
          }
        } finally { cached.unpersist(); () }
      }
      .start()
  }
}
