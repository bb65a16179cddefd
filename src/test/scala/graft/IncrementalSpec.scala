package graft

import org.apache.spark.sql.functions._
import graft.core.Checksum
import graft.incremental.Incremental
import graft.operators.Dedup

/** §2.2 incremental operators + §2.4 dedup semantics. */
class IncrementalSpec extends SparkTestBase {
  import spark.implicits._

  private def ck(rows: Seq[(Long, String)]) =
    rows.toDF("id", "v").withColumn("ck", md5($"v"))

  test("Op-11/12 partition law: diff ⊎ retain = data (keys)") {
    val data = ck(Seq(1L -> "a", 2L -> "b", 3L -> "c"))
    val cache = ck(Seq(1L -> "a", 2L -> "OLD", 4L -> "gone"))
    val diff = Incremental.cacheDiff(data, cache, Seq("id", "ck"))
    val retain = Incremental.cacheRetain(data, cache, Seq("id", "ck"))
    assert(diff.select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    assert(retain.select("id").as[Long].collect().sorted.toSeq == Seq(1L))
    assert(diff.count() + retain.count() == data.count())
  }

  test("Op-14 merge is lazy: no fresh rows leaves the kept rows (fresh-only " +
    "columns null); building it runs no job") {
    val kept = ck(Seq(1L -> "a", 2L -> "b"))
    val noFresh = ck(Seq.empty[(Long, String)]).withColumn("drafted", lit("x"))
    val got = Incremental.merge(noFresh, kept)
      .as[(Long, String, String, Option[String])].collect().sortBy(_._1).toSeq
    assert(got == kept.as[(Long, String, String)].collect().sortBy(_._1).toSeq
      .map { case (id, v, c) => (id, v, c, None) })
    // the fresh side stands in for the enrichment chain, counting each row
    // where it is computed: building the merge runs no job, and one action
    // runs it once per row (testing it for emptiness first would run it again)
    val enriched = spark.sparkContext.longAccumulator("fresh rows enriched")
    val fresh = ck(Seq(3L -> "c", 4L -> "d", 5L -> "e"))
      .as[(Long, String, String)].mapPartitions { rows =>
        rows.map { r => enriched.add(1); r }
      }.toDF("id", "v", "ck")
    val (merged, jobs) = jobsDuring(Incremental.merge(fresh, kept))
    assert(jobs == 0)
    assert(enriched.sum == 0)
    assert(merged.select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L, 5L))
    assert(enriched.sum == 3)
  }

  test("Op-9 checksum is stable under column reorder") {
    val a = Seq((1L, "x", 2.0)).toDF("k", "s", "d")
    val b = Seq((1L, 2.0, "x")).toDF("k", "d", "s").select("k", "s", "d")
    val ca = Checksum.withChecksum(a).select("InputChecksum").as[String].head()
    val cb = Checksum.withChecksum(b).select("InputChecksum").as[String].head()
    assert(ca == cb)
  }

  test("Op-29 keep-last: fresh wins on key collision, old rows survive") {
    val old = Seq(1L -> "old1", 2L -> "old2").toDF("id", "status")
    val fresh = Seq(2L -> "new2", 3L -> "new3").toDF("id", "status")
    val got = Dedup.keepLast(old, fresh, Seq("id"), col("id"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(1L -> "old1", 2L -> "new2", 3L -> "new3"))
  }

  test("Op-30 CDC: only unseen (key,state) pairs emitted") {
    val prev = Seq(1L -> "Open", 2L -> "Open").toDF("id", "status")
    val cur = Seq(1L -> "Open", 2L -> "Closed", 3L -> "Open").toDF("id", "status")
    val got = Dedup.changedSince(cur, prev, Seq("id", "status"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(2L -> "Closed", 3L -> "Open"))
  }

  test("salted join equals the plain join on a skewed key") {
    import graft.operators.SkewJoin
    val big = (1L to 200L).map(i => (i, if (i <= 190) "HOT" else s"k$i"))
      .toDF("row_id", "key")
    val small = Seq(("HOT", "hotval"), ("k195", "v195")).toDF("key", "v")
    val salted = SkewJoin.saltedJoin(big, small, Seq("key"), col("row_id"), 8)
      .select("row_id", "v").as[(Long, String)].collect().toSet
    val plain = big.join(small, Seq("key"))
      .select("row_id", "v").as[(Long, String)].collect().toSet
    assert(salted == plain && salted.size == 191)
  }

  test("Op-31 registry gate: done work is dropped") {
    val work = Seq(1L, 2L, 3L).toDF("id")
    val registry = Seq("k1", "k3").toDF("done")
    val got = Dedup.notYetDone(work, registry,
      concat(lit("k"), col("id").cast("string")), col("done"))
      .as[Long].collect().sorted.toSeq
    assert(got == Seq(2L))
  }
}
