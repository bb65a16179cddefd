package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, struct, to_json}

/** JSON document sink: serialise a (small, serving-layer) DataFrame to one
  * JSON array document — the reference's `orient='records'` S3 PUT
  * (`ServiceAlertBroadcaster.py:100-114`, SURVEY.md Op-6).
  *
  * The collect here is deliberate and bounded: these are the final API
  * artifacts (24 documents of already-filtered alerts), not a data path. At
  * 100 TB the inputs upstream stay distributed; only the post-filter
  * serving rows (thousands) pass through the driver. For large exports use
  * `df.write.json` instead.
  *
  * Rendering is a `to_json(struct(*))` projection plus `collect()`, which
  * writes the same bytes as `df.toJSON` (same generator, same session time
  * zone, null fields dropped). Unlike `toJSON`'s typed `mapPartitions`, the
  * projection is an expression: over a local frame (the
  * [[graft.serve.Broadcaster.fanOut]] documents) Catalyst's
  * `ConvertToLocalRelation` folds the filters and the projection, so the
  * document renders on the driver with no Spark job and no generated code.
  * A distributed frame still renders in one job.
  */
object JsonDocumentSink {

  /** Render as a single JSON array string (records orient, ISO dates). */
  def renderDocument(df: DataFrame): String =
    df.select(to_json(struct(col("*")))).collect()
      .map(_.getString(0)).mkString("[", ",", "]")

  /** Filename contract mirroring ServiceAlertOutputFileConfig
    * (ServiceAlertBroadcaster.py:24-40): {version}/{prefix}-{window}-
    * {planned}.json. */
  def documentName(version: String, prefix: String, window: String,
                   planned: Boolean): String = {
    val p = if (planned) "planned" else "unplanned"
    s"$version/$prefix-$window-$p.json"
  }

  /** Write one document under `rootDir` (local/posix path; object-store
    * deployments swap in their client here). Returns the full path. */
  def write(df: DataFrame, rootDir: String, name: String): String = {
    val path = Paths.get(rootDir, name)
    Files.createDirectories(path.getParent)
    Files.write(path, renderDocument(df).getBytes(StandardCharsets.UTF_8))
    path.toString
  }
}
