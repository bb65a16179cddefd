package graft.serve

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Targeted-notification query layer (the reference's Emailer).
  *
  * Reference: `ServiceAlertEmailer.py:45-826` — ~120 per-recipient configs,
  * each a predicate over the augmented alerts (SQL-ish query strings,
  * ward-membership array checks, service-area equality), an idempotency
  * registry of sent mail, and row→HTML rendering with null-field pruning
  * (SURVEY.md §2.7 Ops 48-52 + Op-31).
  */
object Emailer {

  /** One recipient config: a named predicate surface. `predicateSql` is a
    * Spark SQL boolean expression string — the engine's equivalent of the
    * reference's pandas query strings (Op-48a) for configs authored AS SQL;
    * `predicate` is the `Column` form the builders below produce (values
    * bound as literals, never spliced into SQL text); `rowFilter` covers the
    * callable form (Op-48b). */
  case class EmailConfig(
      name: String,
      receivers: Seq[String],
      predicateSql: Option[String] = None,
      predicate: Option[Column] = None,
      rowFilter: Option[Row => Boolean] = None)

  /** Op-52: stable config identity = sha256 over receivers+focus. */
  def configKey(cfg: EmailConfig): Column =
    sha2(lit(cfg.receivers.sorted.mkString(",") + "|" + cfg.name), 256)

  /** Op-48: apply one config's predicates. */
  def filterFor(alerts: DataFrame, cfg: EmailConfig): DataFrame = {
    val bySql = cfg.predicateSql.fold(alerts)(alerts.filter)
    val byCol = cfg.predicate.fold(bySql)(bySql.filter)
    cfg.rowFilter.fold(byCol)(f => byCol.filter(f))
  }

  /** Op-49: ward-membership config predicate. Built as a `Column` with the
    * ward bound as a literal — a name containing a quote is data, not SQL
    * (the old string-interpolated form broke, injection-shaped, on `'`). */
  def wardPredicate(ward: String): Column =
    array_contains(col("inferred_wards"), lit(ward)) &&
      (col("area_type").isNull || col("area_type") =!= "Citywide")

  /** Op-50: service-area config predicate (literal-bound, as above). */
  def serviceAreaPredicate(area: String): Column =
    col("service_area") === lit(area)

  /** Op-31: idempotency — drop alert×config pairs already sent. The sent
    * registry holds keys `sha256(config)_status_Id`. */
  def unsent(alerts: DataFrame, cfg: EmailConfig, sentKeys: DataFrame): DataFrame = {
    val key = concat_ws("_", configKey(cfg), col("status"), col("id").cast("string"))
    graft.operators.Dedup.notYetDone(
      alerts.withColumn("__sent_key", key), sentKeys, col("__sent_key"), col("sent_key"))
      .drop("__sent_key")
  }

  /** Op-51: row→document rendering with null-field pruning and array
    * joining — pure column expression so rendering stays distributed;
    * only the final (small) document set is collected by the sink. */
  def renderColumn(statusCol: Column, titleCol: Column, areaCol: Column,
                   wardsCol: Column): Column =
    concat_ws(" | ",
      concat(lit("subject="),
        when(statusCol === "Closed", lit("RESOLVED: ")).otherwise(lit("ALERT: ")),
        titleCol),
      when(areaCol.isNotNull, concat(lit("area="), areaCol)),
      when(wardsCol.isNotNull && size(wardsCol) > 0,
        concat(lit("wards="), array_join(wardsCol, ", "))))

  /** Op-51 subject line (ServiceAlertEmailer.py:691-694): "Service Alert -
    * {title} in {area}", prefixed "Updated " when the alert is not Open. */
  def emailSubject(statusCol: Column, titleCol: Column, areaCol: Column): Column =
    concat(
      when(statusCol === "Open", lit("Service Alert - "))
        .otherwise(lit("Updated Service Alert - ")),
      titleCol, lit(" in "), areaCol)

  /** Op-7 blob naming (ServiceAlertEmailer.py:793-796):
    * `{config_hash}_{lower(status) spaces→dashes}_{id}.html`. */
  def emailFilename(configKeyCol: Column, statusCol: Column, idCol: Column): Column =
    concat(concat_ws("_", configKeyCol,
      replace(lower(statusCol), lit(" "), lit("-")), idCol.cast("string")),
      lit(".html"))

  /** Op-51 (full form): per-row HTML document as ONE column expression —
    * the Jinja template re-expressed so rendering stays distributed and
    * codegen'd; only the final document set ever reaches a sink. Mirrors
    * ServiceAlertEmailer.py:705-744: null fields are pruned (concat_ws
    * drops null pieces), array fields join with ", ", and area_type gates
    * rows — 'Official Planning Suburb' drops inferred suburbs, 'Citywide'
    * drops suburbs AND wards. */
  /** Minimal HTML entity escape for data interpolated into markup (&, <, >
    * — & first). The Jinja template this mirrors escapes by default; raw
    * interpolation would let a title like "Pressure < 2 bar" (or hostile
    * free text) break or inject into the emailed document. */
  def htmlEscape(c: Column): Column =
    replace(replace(replace(c, lit("&"), lit("&amp;")),
      lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))

  def renderHtml(statusCol: Column, titleCol: Column, areaCol: Column,
                 areaTypeCol: Column, suburbsCol: Column, wardsCol: Column,
                 postCol: Column): Column = {
    def tr(name: String, v: Column): Column =
      when(v.isNotNull, concat(lit(s"<tr><td>$name</td><td>"), htmlEscape(v),
        lit("</td></tr>")))
    val suburbs = when(
      areaTypeCol.isNull ||
        !areaTypeCol.isin("Official Planning Suburb", "Citywide"),
      array_join(suburbsCol, ", "))
    val wards = when(areaTypeCol.isNull || areaTypeCol =!= "Citywide",
      array_join(wardsCol, ", "))
    concat_ws("",
      lit("<html><body><h2>"),
      htmlEscape(emailSubject(statusCol, titleCol, areaCol)),
      lit("</h2><table>"),
      tr("status", statusCol),
      tr("area", areaCol),
      tr("suburbs", suburbs),
      tr("wards", wards),
      lit("</table><p>"), coalesce(htmlEscape(postCol), lit("")),
      lit("</p></body></html>"))
  }

  /** Full pass: for every config, the unsent matching alerts with their
    * rendered documents and idempotency keys (the reference loops ~120
    * configs over one frame). Each returned frame is a lazy filter of
    * `alerts` and nothing is cached, so every frame a caller materialises
    * evaluates `alerts` again: persist it (or pass a local frame) before
    * writing many configs' frames. */
  def fanOut(alerts: DataFrame, configs: Seq[EmailConfig],
             sentKeys: DataFrame): Map[String, DataFrame] =
    configs.map { cfg =>
      cfg.name -> unsent(filterFor(alerts, cfg), cfg, sentKeys)
    }.toMap
}
