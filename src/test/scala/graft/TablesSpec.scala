package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.DataFrame

import graft.io.{BucketedStore, PartitionedStore, StageStore, Tables}

/** `Tables.read` must give the schema `spark.read.parquet` infers, on every
  * layout the engine reads, and build the read without a Spark job. */
class TablesSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft_tables_$name").toString

  private def assertParity(path: String): Unit = {
    val (pinned, jobs) = jobsDuring(Tables.read(spark, path))
    assert(pinned.schema === spark.read.parquet(path).schema, path)
    assert(Tables.schema(spark, path) === pinned.schema, path)
    assert(jobs === 0, s"$jobs jobs while building the read of $path")
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(pinned) === rows(spark.read.parquet(path)), path)
  }

  /** Writes `df` as one part file and moves it into `dir` as `name`. */
  private def partFile(df: DataFrame, dir: String, name: String): Path = {
    val out = tmp("part")
    df.coalesce(1).write.mode("overwrite").parquet(out)
    val part = Files.list(java.nio.file.Paths.get(out)).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).head
    Files.move(part, java.nio.file.Paths.get(dir, name), StandardCopyOption.REPLACE_EXISTING)
  }

  test("every sf0.001 table reads with the inferred schema, events under " +
    "nanosAsLong as RefQueries.events sets it") {
    val tables = new java.io.File(sf()).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted
    assert(tables.length >= 10)
    tables.filterNot(_.endsWith("/events.parquet")).foreach(assertParity)
    withSQLConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      assertParity(s"${sf()}/events.parquet")
      assert(graft.queries.RefQueries.events(spark, sf()).schema("ts").dataType
        === org.apache.spark.sql.types.TimestampType)
    }
  }

  test("store layouts: a StageStore version, a partitioned layout and a " +
    "bucketing input keep schema, column order and partition type") {
    val store = new StageStore(spark, tmp("stage"))
    val v = store.write(Seq((1L, "a", 2.5)).toDF("id", "seg", "x"), 100L)
    assertParity(v)
    assert(store.readLatest().schema === spark.read.parquet(v).schema)

    val base = tmp("part") + "/t"
    PartitionedStore.writePartitioned(
      Seq(("2024-01-01", 7, 1L), ("2024-01-02", 8, 2L)).toDF("dt", "n", "v"),
      base, "n")
    assertParity(base)
    val s = PartitionedStore.readPartitioned(spark, base).schema
    assert(s.fieldNames.last === "n" && s("n").dataType ===
      org.apache.spark.sql.types.IntegerType, s)

    val in = tmp("bucket_in")
    (1L to 100L).map(i => (i, s"k$i")).toDF("k", "s")
      .repartition(3).write.mode("overwrite").parquet(in)
    assertParity(in)
    val out = tmp("bucket_out")
    BucketedStore.compact(spark, in, out, "k", targetFileRows = 40, numFiles = 3)
    assertParity(out)
  }

  test("a stored IvfPqIndex's centroids and codebook read with the " +
    "inferred schema") {
    import graft.ext.IvfPqIndex
    val corpus = (0 until 30).map(i =>
      (i.toLong, Seq.tabulate(8)(j => ((i * 31 + j * 7) % 13).toDouble / 13.0)))
      .toDF("vec_id", "embedding")
    spark.sql("DROP TABLE IF EXISTS tables_spec_codes")
    try {
      val st = IvfPqIndex.build(corpus, "vec_id", "embedding",
        nlist = 4, kmeansIters = 1, m = 2, ksub = 4, pqIters = 1,
        codesTable = "tables_spec_codes", basePath = tmp("ivf"))
      assertParity(st.centroidsPath)
      assertParity(st.codebookPath)
      assert(IvfPqIndex.loadCodebook(spark, st).m === 2)
    } finally spark.sql("DROP TABLE IF EXISTS tables_spec_codes")
  }

  test("part files that differ in one column: the first file by path " +
    "decides, as inference does with mergeSchema off") {
    val withB = Seq((1L, "x")).toDF("a", "b")
    val withC = Seq((2L, 0.5)).toDF("a", "c")
    for ((first, second) <- Seq((withB, withC), (withC, withB))) {
      val dir = tmp("mixed")
      partFile(second, dir, "part-00001.parquet")
      partFile(first, dir, "part-00000.parquet")
      assertParity(dir)
      assert(Tables.read(spark, dir).schema.fieldNames.toSeq ===
        first.schema.fieldNames.toSeq)
    }
  }

  test("a _metadata summary file decides over the data files") {
    val dir = tmp("summary")
    partFile(Seq((1L, "x")).toDF("a", "b"), dir, "part-00000.parquet")
    partFile(Seq((2L, 0.5)).toDF("a", "c"), dir, "_metadata")
    assertParity(dir)
    assert(Tables.schema(spark, dir).fieldNames.toSeq === Seq("a", "c"))
  }

  test("an empty table written by Spark reads with its schema") {
    val p = tmp("empty")
    Seq.empty[(Long, String)].toDF("a", "b").write.mode("overwrite").parquet(p)
    assertParity(p)
    assert(Tables.read(spark, p).count() === 0)
  }

  test("a missing path and a _SUCCESS-only directory raise Spark's own " +
    "exception") {
    val missing = tmp("missing") + "/nope"
    val onlySuccess = tmp("success")
    Files.createFile(java.nio.file.Paths.get(onlySuccess, "_SUCCESS"))
    for (p <- Seq(missing, onlySuccess)) {
      val spark0 = intercept[Throwable](spark.read.parquet(p))
      val ours = intercept[Throwable](Tables.read(spark, p))
      assert(ours.getClass === spark0.getClass, ours)
      assert(intercept[Throwable](Tables.schema(spark, p)).getClass ===
        spark0.getClass)
    }
  }

  test("a path overwritten with a different schema reads the new schema") {
    val p = tmp("overwrite")
    Seq((1L, "x")).toDF("a", "b").write.mode("overwrite").parquet(p)
    assert(Tables.read(spark, p).schema.fieldNames.toSeq === Seq("a", "b"))
    Seq((2.5, 3)).toDF("c", "d").write.mode("overwrite").parquet(p)
    assertParity(p)
    assert(Tables.read(spark, p).as[(Double, Int)].collect().toSeq ===
      Seq((2.5, 3)))
  }

  test("StageStore.readLatest resolves and builds the read with no job") {
    val store = new StageStore(spark, tmp("latest"))
    store.write(Seq((1L, "a")).toDF("id", "seg"), 100L)
    store.write(Seq((2L, "b")).toDF("id", "seg"), 200L)
    val (latest, jobs) = jobsDuring(store.readLatest())
    assert(jobs === 0, s"$jobs jobs while resolving readLatest")
    assert(latest.as[(Long, String)].collect().toSeq === Seq((2L, "b")))
  }
}
