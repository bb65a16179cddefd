package graft.io

/** Paginated REST list source (the reference's SharePoint OData ingest):
  * the transport contract and the record flatten that [[RestSourceV2]]'s
  * batch and streaming reads share.
  *
  * Reference: `ServiceAlertConnector.py:43-64` — GET a list endpoint, follow
  * `__next` continuation links, yield JSON rows; then flatten each record by
  * dropping `__metadata`, nulls, and nested values (`:31-41`; SURVEY.md
  * Ops 1-2).
  */
object RestSource {

  /** The pluggable transport: returns (rows of this page, next-page token). */
  trait PageFetcher extends Serializable {
    def fetch(token: Option[String]): (Seq[Map[String, Any]], Option[String])
  }

  /** Op-2: keep only flat, non-null, non-metadata values. */
  def cleanRecord(rec: Map[String, Any]): Map[String, Any] =
    rec.filter { case (k, v) =>
      k != "__metadata" && v != null && !v.isInstanceOf[Map[_, _]] &&
        !v.isInstanceOf[Seq[_]]
    }
}
