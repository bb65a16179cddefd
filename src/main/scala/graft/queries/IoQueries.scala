package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.enrich.Enrichment
import graft.io.{JsonDocumentSink, StageStore}
import graft.streaming.ChangeStream

/** Oracle-checkable query surfaces for the io/serve operators that were
  * previously spec-only (round-6 verdict, Missing #1): the Op-55 shape
  * repair over planted malformed payloads, and write-then-read-back forms
  * of the Op-5 versioned store, the Op-6 JSON document sink, and the Op-62
  * versioned fan-out — the read-back rows ARE the result surface, so the
  * DuckDB oracle checks the whole write→publish→read cycle, not just the
  * in-memory frame.
  *
  * Side-effecting queries write under a fresh temp directory per
  * invocation; results depend only on the sf tables, never on the path.
  */
object IoQueries {

  import RefQueries.t

  type Q = RefQueries.Q

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Op-55 (q55): the LLM-location shape-repair ladder
    * (ServiceAlertAugmenter.py:258-279) over six planted payload classes —
    * well-formed, triple-nested (unwrap), flat (wrap), invalid JSON
    * (reject), wide triple-nested (reject), mixed-depth (reject) — exploded
    * to (id, gi, ti, token) rows so every repaired group and member is
    * hash-checked; rejected payloads contribute no rows. */
  val q55ShapeRepair: Q = (s, dir) => {
    val x = (col("id") * 13 % 100).cast("string")
    val y = (col("id") * 29 % 100).cast("string")
    val payload = when(col("id") % 6 === 0,
        concat(lit("[[\"P"), x, lit("\",\"Q"), y, lit("\"]]")))
      .when(col("id") % 6 === 1, concat(lit("[[[\"R"), x, lit("\"]]]")))
      .when(col("id") % 6 === 2,
        concat(lit("[\"S"), x, lit("\",\"T"), y, lit("\"]")))
      .when(col("id") % 6 === 3, concat(lit("junk "), x))
      .when(col("id") % 6 === 4,
        concat(lit("[[[\"A"), x, lit("\"],[\"B"), y, lit("\"]]]")))
      .otherwise(concat(lit("[\"U"), x, lit("\",[\"V"), y, lit("\"]]")))
    t(s, dir, "customer").where(col("c_custkey") <= 300)
      .select(col("c_custkey").as("id"))
      .withColumn("repaired", Enrichment.repairLocationJson(payload))
      .select(col("id"), posexplode(col("repaired")).as(Seq("gi", "grp")))
      .select(col("id"), col("gi").cast("long").as("gi"),
        posexplode(col("grp")).as(Seq("ti", "token")))
      .select(col("id"), col("gi"), col("ti").cast("long").as("ti"),
        col("token"))
  }

  /** Op-5 (q05): the versioned parquet store end-to-end — three versions
    * written under retain=2, so v1 is pruned; the result reads BACK the
    * surviving versions through the commit-marker resolution (read(2) +
    * readLatest) plus the store's version count. The oracle reproduces the
    * expected content of each surviving version from the same table. */
  val q05VersionedStore: Q = (s, dir) => {
    val store = new StageStore(s, tmpDir("graft_q05"), retain = 2)
    val cust = t(s, dir, "customer")
    def slice(lo: Long, hi: Long, seg: org.apache.spark.sql.Column) =
      cust.where(col("c_custkey") > lo && col("c_custkey") <= hi)
        .select(col("c_custkey").as("id"), seg.as("seg"))
    store.write(slice(0, 200, col("c_mktsegment")), 1)
    store.write(slice(100, 300, concat(lit("X"), col("c_mktsegment"))), 2)
    store.write(slice(200, 400, lower(col("c_mktsegment"))), 3)
    val nVersions = lit(store.versions().length.toLong).as("n_versions")
    store.read(2).select(lit(2L).as("version"), col("id"), col("seg"), nVersions)
      .unionByName(store.readLatest()
        .select(lit(3L).as("version"), col("id"), col("seg"), nVersions))
  }

  /** Op-6 (q06): the JSON document sink round trip — serving rows rendered
    * as one records-orient JSON array document per (planned) partition
    * under the reference's filename contract, then parsed back; the result
    * is the read-back rows tagged with their document name, so the oracle
    * checks rendering, naming, and losslessness together. */
  val q06JsonDocSink: Q = (s, dir) => {
    val root = tmpDir("graft_q06")
    val alerts = t(s, dir, "orders").where(col("o_orderkey") <= 200)
      .select(col("o_orderkey").as("Id"),
        when(col("o_orderstatus") === "O", lit("Open"))
          .when(col("o_orderstatus") === "F", lit("Closed"))
          .otherwise(lit("Pending")).as("status"),
        (col("o_orderkey") % 2 === 0).as("planned"))
    val docs = Seq(true, false).map { p =>
      val name = JsonDocumentSink.documentName("v1", "alerts", "all", p)
      JsonDocumentSink.write(
        alerts.where(col("planned") === p).select("Id", "status")
          .orderBy("Id"), root, name)
      name
    }
    docs.map { name =>
      s.read.schema("Id BIGINT, status STRING").json(s"$root/$name")
        .select(lit(name).as("doc"), col("Id"), col("status"))
    }.reduce(_.unionByName(_))
  }

  /** Op-62 (q62): the per-record versioned fan-out (alerts-recon.py:50-81)
    * as a write-then-read-back: each API version's projection is published
    * as a JSON document and parsed back under the FULL schema, so the
    * columns a version drops come back NULL — the observable contract of
    * the fan-out. */
  val q62VersionedFanout: Q = (s, dir) => {
    val root = tmpDir("graft_q62")
    val px = (col("c_custkey") * 7 % 100).cast("string")
    val py = (col("c_custkey") * 13 % 100).cast("string")
    val alerts = t(s, dir, "customer").where(col("c_custkey") <= 200)
      .select(col("c_custkey").as("Id"),
        when(col("c_custkey") % 3 === 0, lit("Open"))
          .otherwise(lit("Closed")).as("status"),
        when(col("c_custkey") % 2 === 0, lit("Suburb"))
          .otherwise(lit("Ward")).as("area_type"),
        concat(lit("POINT ("), px, lit(" "), py, lit(")"))
          .as("geospatial_footprint"))
    ChangeStream.versionedFanOut(alerts).toSeq.sortBy(_._1).map {
      case (version, df) =>
        val name = s"$version/alerts.json"
        JsonDocumentSink.write(df.orderBy("Id"), root, name)
        s.read
          .schema("Id BIGINT, status STRING, area_type STRING, geospatial_footprint STRING")
          .json(s"$root/$name")
          .select(lit(version).as("version"), col("Id"), col("status"),
            col("area_type"), col("geospatial_footprint"))
    }.reduce(_.unionByName(_))
  }
}
