package graft.ext

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{BucketedStore, Tables}

/** Build-once / serve-many persistence for the residual IVF-PQ index — the
  * deployment shape every 100-TB ANN installation actually runs. The
  * in-memory forms ([[SimilarityOps.ivfPqResTopK]] and its batch variant)
  * re-train centroids + codebook and re-encode the corpus on every call,
  * which is fine for a one-shot benchmark and wrong for a served index:
  * at scale the index is built ONCE (the expensive corpus passes) and then
  * answers many queries against the stored artefacts.
  *
  * Artefacts ([[build]]):
  *   - the (centroid_id, id, codes) table, written through
  *     [[graft.io.BucketedStore]] BUCKETED BY centroid_id — the layout
  *     [[SimilarityOps.ivfPqTopK]]'s scaladoc promises: a query's scan
  *     statically prunes to its probed buckets (`SelectedBucketsCount:
  *     ≤nprobe out of nlist` in the plan — buckets are HASHES of cell ids,
  *     so colliding probed cells share a bucket) and never shuffles;
  *   - the nlist-row centroid table (plain parquet; localized at load);
  *   - the m×ksub codebook as (sub, code, w) rows (plain parquet; the
  *     geometry m/dsub/ksub is recovered from the rows at load, so the
  *     store needs no side-channel metadata file).
  *
  * Serve ([[topK]], [[topKBatch]]): read the artefacts back and answer
  * WITHOUT re-training or re-encoding — probe cells from the loaded
  * centroids, a literal IN-list filter on the bucketed codes table (the
  * collect behind it is nprobe ints — parameter-bounded, and the price of
  * STATIC bucket pruning: a join against a probe frame would read all
  * buckets), then the same relational ADC scoring the in-memory forms use
  * ([[PqOps.adcTopKEncodedPerCell]] / [[SimilarityOps.adcScoreResBatch]]),
  * so stored answers hash-match in-memory answers bit-for-bit.
  */
object IvfPqIndex {

  /** Locations of a built index's three artefacts. `codesTable` is a table
    * name in the session catalog (datasource bucketing lives in the catalog
    * entry; the data itself sits under `<basePath>/codes`). */
  final case class Stored(codesTable: String, centroidsPath: String,
                          codebookPath: String)

  /** Train (residual IVFADC, the [[SimilarityOps.ivfPqResTopK]] chain) and
    * persist. One assignment + residual + encoding pass over the corpus;
    * the bucket-by-cell shuffle is paid here, once, instead of on every
    * query. `numBuckets` defaults to nlist — one bucket per cell, the
    * finest pruning grain; at very large nlist a divisor of nlist keeps
    * whole buckets prunable while bounding small files. */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
            nlist: Int, kmeansIters: Int, m: Int, ksub: Int, pqIters: Int,
            codesTable: String, basePath: String,
            numBuckets: Int = 0): Stored = {
    val buckets = if (numBuckets > 0) numBuckets else nlist
    val (ctr, res, cb) = SimilarityOps.trainResidualPq(corpus, idCol, vecCol,
      nlist, kmeansIters, m, ksub, pqIters)
    val enc = PqOps.withCodes(res, "__res", cb)
      .select(col("centroid_id"), col(idCol), col("codes"))
    BucketedStore.writeBucketed(enc, codesTable, "centroid_id", buckets,
      s"$basePath/codes")
    ctr.write.mode(SaveMode.Overwrite).parquet(s"$basePath/centroids")
    PqOps.codebookFrame(corpus.sparkSession, cb)
      .coalesce(1) // m×ksub rows — one file beats a task's worth of shards
      .write.mode(SaveMode.Overwrite).parquet(s"$basePath/codebook")
    Stored(codesTable, s"$basePath/centroids", s"$basePath/codebook")
  }

  /** Append new corpus rows to a stored index WITHOUT retraining: assign +
    * residual-encode against the STORED centroids and codebook (standard
    * IVF practice — the coarse and fine quantizers are frozen at build
    * time; quantizer drift under distribution shift is a rebuild decision,
    * not an append-time one), then insert into the bucketed codes table.
    * `insertInto` writes through the catalog bucket spec, so appended rows
    * land in their cells' buckets and serve-time pruning is unaffected;
    * each append adds one file per touched bucket, so a high-frequency
    * append pipeline should periodically compact (the
    * [[graft.io.BucketedStore.compact]] remediation) or rebuild. */
  def append(spark: SparkSession, stored: Stored, newRows: DataFrame,
             idCol: String, vecCol: String): Unit = {
    val ctr = loadCentroids(spark, stored)
    val cb = loadCodebook(spark, stored)
    val res = SimilarityOps.withResiduals(
      SimilarityOps.ivfAssign(newRows, idCol, vecCol, ctr), vecCol, ctr)
    PqOps.withCodes(res, "__res", cb)
      .select(col("centroid_id"), col(idCol), col("codes"))
      .write.mode(SaveMode.Append).insertInto(stored.codesTable)
  }

  /** The stored centroid table, localized (nlist rows — the same driver-side
    * shape [[SimilarityOps.localize]] keeps every training round shallow
    * with; parquet doubles round-trip exactly, so probe selection is
    * bit-identical to the in-memory path). */
  def loadCentroids(spark: SparkSession, stored: Stored): DataFrame =
    SimilarityOps.localize(Tables.read(spark, stored.centroidsPath))

  /** The stored codebook, reassembled: m = #subspaces, ksub = #codes per
    * subspace, dsub = codeword length — all recovered from the rows. */
  def loadCodebook(spark: SparkSession, stored: Stored): PqOps.Codebook = {
    import spark.implicits._
    val rows = Tables.read(spark, stored.codebookPath)
      .select(col("sub").cast("int"), col("code").cast("int"),
        col("w").cast("array<double>"))
      .as[(Int, Int, Seq[Double])].collect()
    require(rows.nonEmpty, s"empty codebook at ${stored.codebookPath}")
    PqOps.Codebook(rows.map(_._1).max + 1, rows.head._3.length,
      rows.map(_._2).max, rows.map { case (s, c, w) => (s, c) -> w }.toMap)
  }

  /** Probed cell ids for one query — collected to the driver (nprobe ints)
    * so the codes scan can carry a LITERAL IN-list: bucket pruning is a
    * static planning decision, so the probed cells must be values, not a
    * frame. */
  private def probedCells(query: DataFrame, centroids: DataFrame,
                          nprobe: Int): Seq[Int] =
    SimilarityOps.probeCellsOf(query, centroids, nprobe)
      .collect().map(_.getInt(0)).toSeq.sorted

  /** The pruned codes scan: a literal IN-list over the bucketed table. Must
    * plan with auto-bucketed-scan OFF — see [[scopedServe]]. */
  private def prunedCodes(spark: SparkSession, stored: Stored,
                          cells: Seq[Int]): DataFrame =
    spark.table(stored.codesTable).where(col("centroid_id").isin(cells: _*))

  /** Plan `body`'s result with auto-bucketed-scan disabled, WITHOUT leaking
    * the override into the session: the planner's heuristic keeps a bucketed
    * layout only when an operator exploits its DISTRIBUTION, and the serve
    * join is a broadcast — left on, it would silently fall back to a
    * split-parallel scan of every file, discarding the bucket PRUNING this
    * index is stored for (the IN-list then prunes row groups at best, not
    * whole buckets). Planning is lazy, so the conf is scoped by forcing the
    * physical plan EAGERLY inside the override and restoring the previous
    * value before returning; the returned Dataset executes its cached plan,
    * and every later query in the session — including unrelated bucketed
    * reads, whose auto-scan election BucketedSpec locks — plans under the
    * session's own setting. Re-transforming the returned frame re-plans
    * under the restored conf, which can only lose the serve pruning, never
    * correctness. */
  private def scopedServe(spark: SparkSession)(body: => DataFrame): DataFrame = {
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val df = body
      df.queryExecution.executedPlan // force planning inside the scope
      df
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Stored-index top-k for one query vector (one-row frame with column `q`,
    * the [[SimilarityOps.ivfPqResTopK]] contract). No training, no
    * encoding: the plan is a bucket-pruned scan of the codes table + the
    * broadcast per-cell distance tables + map scoring + TakeOrdered. */
  def topK(spark: SparkSession, stored: Stored, idCol: String,
           query: DataFrame, k: Int, nprobe: Int): DataFrame = scopedServe(spark) {
    val ctr = loadCentroids(spark, stored)
    val cb = loadCodebook(spark, stored)
    val cells = probedCells(query, ctr, nprobe)
    val enc = prunedCodes(spark, stored, cells)
    PqOps.adcTopKEncodedPerCell(enc, idCol, query,
      ctr.where(col("centroid_id").isin(cells: _*)), k, cb)
  }

  /** Stored-index top-k for a SET of queries (`queries`: qid, q). Probes
    * come from the shared per-query ranking window; the scan prunes to the
    * UNION of probed cells (≤ nlist ids, collected — parameter-bounded);
    * scoring is the shared relational spine, so results hash-match
    * [[SimilarityOps.ivfPqResTopKBatch]] on the same corpus/params. */
  def topKBatch(spark: SparkSession, stored: Stored, idCol: String,
                queries: DataFrame, k: Int,
                nprobe: Int): DataFrame = scopedServe(spark) {
    val ctr = loadCentroids(spark, stored)
    val cb = loadCodebook(spark, stored)
    val probes = SimilarityOps.perQueryProbes(queries, ctr, nprobe)
    val cells = probes.select("centroid_id").distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val enc = prunedCodes(spark, stored, cells)
    SimilarityOps.adcScoreResBatch(enc, idCol, queries, probes, ctr, k, cb)
  }
}
