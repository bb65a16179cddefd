package graft

import org.apache.spark.sql.functions._

import graft.enrich.Enrichment
import graft.serve.Emailer
import graft.serve.Emailer.EmailConfig

class EnrichSpec extends SparkTestBase {
  import spark.implicits._

  test("Op-53 draft stage: contract limits and join-back") {
    val df = Seq((1L, "Water Off", "Pipe burst on Main Rd " + ("x" * 300)),
      (2L, "", " ")).toDF("id", "title", "description")
    val got = Enrichment.draftStage(df, Enrichment.StubDrafter)
      .select("id", "tweet_text").as[(Long, Option[String])]
      .collect().toMap
    assert(got(1L).get.length == 280)
    assert(got(1L).get.startsWith("Water Off: Pipe burst"))
    assert(got(2L).isEmpty)  // empty input -> None (LLM-failure analogue)
  }

  test("retry combinator: escalates then falls back") {
    var calls = 0
    val r = Enrichment.withRetries[String](3)(i => { calls += 1; None })(Some("fb"))
    assert(r.contains("fb") && calls == 3)
    val r2 = Enrichment.withRetries[String](3)(i =>
      if (i == 1) Some("ok") else None)(Some("fb"))
    assert(r2.contains("ok"))
  }

  test("Op-55 shape repair follows the reference ladder exactly: flat ≥2 " +
    "wraps, 1/1 triple unwraps, wide triple and singleton flat REJECT") {
    assert(Enrichment.normalizeLocationResponse(Seq("a", "b")) == Seq(Seq("a", "b")))
    assert(Enrichment.normalizeLocationResponse(Seq(Seq("a"), Seq("b"))) ==
      Seq(Seq("a"), Seq("b")))
    // 1/1 triple nest: unwrap one layer (the reference's only unwrap case)
    assert(Enrichment.normalizeLocationResponse(Seq(Seq(Seq("a", "b")))) ==
      Seq(Seq("a", "b")))
    // wide triple nest: the len-1 guard blocks the unwrap, validation fails
    assert(Enrichment.normalizeLocationResponse(Seq(Seq(Seq("a"), Seq("b")))) ==
      Seq.empty)
    // singleton flat array: python's elif never wraps it (reference quirk)
    assert(Enrichment.normalizeLocationResponse(Seq("a")) == Seq.empty)
    // mixed depth under a singleton: inner non-string fails validation
    assert(Enrichment.normalizeLocationResponse(Seq(Seq("a", Seq("b")))) ==
      Seq.empty)
    assert(Enrichment.normalizeLocationResponse(42) == Seq.empty)
    assert(Enrichment.normalizeLocationResponse(Seq.empty) == Seq.empty)
  }

  test("Op-55 column repair (repairLocationJson) agrees with the typed " +
    "ladder on every shape class, including the reject quirks") {
    val cases = Seq(
      """[["a","b"]]""" -> Seq(Seq("a", "b")),   // proper 2-level
      """[[["a","b"]]]""" -> Seq(Seq("a", "b")), // 1/1 triple: unwrap
      """["a","b"]""" -> Seq(Seq("a", "b")),     // flat ≥2: wrap
      """["a"]""" -> null,                       // singleton flat: reject
      """[[["a"],["b"]]]""" -> null,             // wide triple: reject
      """["a",["b"]]""" -> null,                 // mixed depth: reject
      """[["a",["b"]]]""" -> null,               // mixed under singleton
      """[[[["a"]]]]""" -> null,                 // 4-deep: reject
      """not json""" -> null,                    // invalid: reject
      """[]""" -> Seq.empty)                     // empty: no suggestions
    val got = cases.map(_._1).toDF("p")
      .select(Enrichment.repairLocationJson(col("p")))
      .collect().map(r => if (r.isNullAt(0)) null
        else r.getSeq[scala.collection.Seq[String]](0).map(_.toSeq).toSeq)
    cases.map(_._2).zip(got).zip(cases.map(_._1)).foreach {
      case ((want, have), payload) =>
        assert(have == want, s"payload $payload: got $have, want $want")
    }
  }

  test("Op-55 locate stage attaches suggestion groups") {
    val df = Seq((1L, "Burst near Main Road and Church Street"))
      .toDF("id", "description")
    val got = Enrichment.locateStage(df, Enrichment.StubLocator)
      .select("location_suggestions").as[Seq[Seq[String]]].head()
    assert(got == Seq(Seq("Burst", "Main")))
  }

  test("draft and locate stages keep one row per input row: rows that " +
    "share an id are not multiplied") {
    val df = Seq((1L, "Water Off", "Main Road"), (1L, "Power Off", "Church Street"))
      .toDF("id", "title", "description")
    val drafted = Enrichment.draftStage(df, Enrichment.StubDrafter)
    assert(drafted.columns.toSeq == Seq("id", "title", "description", "tweet_text"))
    assert(drafted.select("tweet_text").as[String].collect().sorted.toSeq ==
      Seq("Power Off: Church Street", "Water Off: Main Road"))
    val located = Enrichment.locateStage(df, Enrichment.StubLocator)
    assert(located.select("description", "location_suggestions")
      .as[(String, Seq[Seq[String]])].collect().toMap ==
      Map("Main Road" -> Seq(Seq("Main", "Road")),
        "Church Street" -> Seq(Seq("Church", "Street"))))
  }

  test("Op-48-50 emailer predicates + Op-31 sent registry") {
    val alerts = Seq(
      (1L, "Open", "Water", "Suburb", Seq("ward 57")),
      (2L, "Open", "Electricity", "Citywide", Seq("ward 57")),
      (3L, "Closed", "Water", "Suburb", Seq("ward 12")))
      .toDF("id", "status", "service_area", "area_type", "inferred_wards")
    val cfg = EmailConfig("ward57", Seq("a@x"),
      predicate = Some(Emailer.wardPredicate("ward 57")))
    val matched = Emailer.filterFor(alerts, cfg).select("id").as[Long].collect().toSeq
    assert(matched == Seq(1L))  // id 2 excluded: Citywide
    val cfgArea = EmailConfig("water", Seq("a@x"),
      predicate = Some(Emailer.serviceAreaPredicate("Water")))
    assert(Emailer.filterFor(alerts, cfgArea).count() == 2)
    // registry: mark id 1 as sent for cfg, expect empty
    val sentKey = Emailer.filterFor(alerts, cfg)
      .select(concat_ws("_", Emailer.configKey(cfg), col("status"),
        col("id").cast("string")).as("sent_key"))
    assert(Emailer.unsent(Emailer.filterFor(alerts, cfg), cfg, sentKey).count() == 0)
    val emptyReg = Seq.empty[String].toDF("sent_key")
    assert(Emailer.unsent(Emailer.filterFor(alerts, cfg), cfg, emptyReg).count() == 1)
  }

  test("Op-49/50 predicates treat quotes in names as data, not SQL") {
    val alerts = Seq(
      (1L, "Open", "D'Urbanvale", "Suburb", Seq("O'Brien's ward")),
      (2L, "Open", "Water", "Suburb", Seq("ward 1")))
      .toDF("id", "status", "service_area", "area_type", "inferred_wards")
    val byWard = Emailer.filterFor(alerts, EmailConfig("q", Seq("a@x"),
      predicate = Some(Emailer.wardPredicate("O'Brien's ward"))))
    assert(byWard.select("id").as[Long].collect().toSeq == Seq(1L))
    val byArea = Emailer.filterFor(alerts, EmailConfig("q2", Seq("a@x"),
      predicate = Some(Emailer.serviceAreaPredicate("D'Urbanvale"))))
    assert(byArea.select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("Op-51 render column prunes null fields") {
    val df = Seq(("Open", "Water Off", "CBD", Seq("57")),
      ("Closed", "Fixed", null, Seq.empty[String]))
      .toDF("status", "title", "area", "wards")
    val got = df.select(Emailer.renderColumn($"status", $"title", $"area", $"wards")
      .as("r")).as[String].collect().toSeq
    assert(got == Seq("subject=ALERT: Water Off | area=CBD | wards=57",
      "subject=RESOLVED: Fixed"))
  }
}
