package graft

import org.apache.spark.sql.functions.col

/** Vocabulary-scale BPE-learn evidence: real tokenizers learn THOUSANDS
  * of merges, while the oracle-checked x_bpe_learn stops at 8 (the
  * unrolled DuckDB oracle cannot follow the argmax-then-rewrite chain
  * deeper). This probe runs [[graft.ext.TextOps.bpeLearnMerges]] at
  * `nMerges` (default 2000) over the documents corpus of
  * `SPARK_GRAFT_SF_DIR` and prints per-round wall-time BUCKETS — the
  * claim under test is that round 2000 costs what round 1 costs (the
  * word-type frame is vocabulary-bounded and the eager localCheckpoint
  * keeps every round's plan the same size; without it each round's plan
  * would nest the previous round's rewrite and the loop would slow
  * quadratically, the dupClusters lesson).
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.BpeScaleProbe 2000 customer c_name"
  *
  * Corpus choice (args 2-3, default `documents text`): the synthetic
  * documents corpus has a CLOSED ~31-token vocabulary — learning
  * exhausts at ~89 merges (BpeSpec pins that exhaustion as correct
  * behavior), so the vocabulary-DEPTH evidence runs on the
  * highest-cardinality string corpus the testdata carries: customer
  * names (15k distinct identifier word types at sf0.1). */
object BpeScaleProbe {
  def main(args: Array[String]): Unit = {
    val nMerges = if (args.nonEmpty) args(0).toInt else 2000
    val tableName = if (args.length > 1) args(1) else "documents"
    val column = if (args.length > 2) args(2) else "text"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession(GraftSession.cpus("32"), logLevel = "ERROR")

    val docs = graft.io.Tables.read(spark, s"$sfDir/$tableName.parquet")
    val times = new Array[Double](nMerges + 1)
    val t0 = System.nanoTime()
    val table = graft.ext.TextOps.bpeLearnMerges(docs, col(column), nMerges,
      (rank, nanos) => times(rank) = nanos / 1e9)
    val learned = table.count()
    val total = (System.nanoTime() - t0) / 1e9
    def bucket(from: Int, to: Int): String = {
      val hi = math.min(to, learned.toInt)
      if (from > hi) "-"
      else {
        val xs = (from to hi).map(times(_))
        f"${xs.sum / xs.size}%.3f"
      }
    }
    println(f"[bpescale] merges=$learned total=$total%.1f s " +
      s"meanRoundSec first100=${bucket(1, 100)} " +
      s"mid=${bucket(nMerges / 2 - 49, nMerges / 2 + 50)} " +
      s"last100=${bucket(nMerges - 99, nMerges)}")
    // the learned table itself, summarized: rank-1 and deepest merges
    table.orderBy(col("rank")).limit(3).collect()
      .foreach(r => println(s"[bpescale] head $r"))
    table.orderBy(col("rank").desc).limit(3).collect()
      .foreach(r => println(s"[bpescale] tail $r"))
    spark.stop()
  }
}
