package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory for every main in this package. Shared
  * config: `local[cpus]`, shuffle partitions = cpus, UTC, ANSI off, AQE
  * on, UI off, a codegen cache of `CodegenCacheEntries` entries,
  * [[graft.functions.GraftExtensions]] (Spark's session-extension hook,
  * owned here rather than copied into each main) and the log level.
  * Callers add their own confs on top.
  *
  * `SPARK_GRAFT_MASTER` overrides the master for every main — the lever
  * that turns any of them into MULTI-EXECUTOR evidence. `local[n]` is one
  * JVM with zero serialization boundaries: every custom Expression,
  * Aggregator buffer, broadcast, and state-store instance lives on the
  * fast path where a Kryo/Java serialization bug is invisible by
  * construction. `local-cluster[w,c,m]` (w workers x c cores, m MB each)
  * launches REAL separate executor JVMs, so task binaries, Aggregator
  * buffers, broadcast TRANSPORT, and shuffle all cross process
  * boundaries. Usage:
  *
  *   SPARK_HOME=<spark distribution> SPARK_SCALA_VERSION=2.13 \
  *     SPARK_GRAFT_MASTER=local-cluster[4,8,4096] \
  *     sbt "runMain graft.Verify <sf-dir> <out-dir>"
  *
  * SPARK_HOME must point at the distribution (the Worker launches
  * executor JVMs through its scripts). The executor processes do not
  * inherit the sbt fork's classpath or JDK-17 module options, so both are
  * forwarded explicitly: the full driver classpath (app classes + the
  * Spark jars) and the launcher's own default module options. */
object GraftSession {
  /** Spark's codegen cache size (a static conf, default 100 entries, keyed
    * by class loader and generated source). At 100 a plan that generates
    * more classes than the cache holds evicts its own classes and compiles
    * them again on every run. Measured on a 4-vCPU VM, `local[4]`, sf0.1:
    *   - `graft.Bench run`, Janino compiles over 3 warm reps for
    *     q_ep3_pipeline / x_ivfpq_batch / x_contain_join: 81/360/8 at 100
    *     entries, 0/12/12 at 250, 0/14/4 at 400, 0/4/4 and 0/16/8 in two
    *     runs at 1000;
    *   - the `graft.Bench` sweep, one rep per entry: 623 warm compiles at
    *     100, 174 at 1000;
    *   - a warm perfbench `alerts_pipeline` cycle (the conf passed as a JVM
    *     system property): 155 compiles at 100, 0 at 250, 400 and 1000;
    *     with its 24 JSON documents rendered as distributed jobs, 258 at
    *     100, 162 at 250 and 0 at 400.
    * The compiles left at 1000 vary between runs: generated source that
    * differs from run to run, which no cache size removes. */
  private val CodegenCacheEntries = 1000

  /** `SPARK_GRAFT_CPUS`, else the caller's default. */
  def cpus(default: String): String = sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  /** True when the executors run in separate JVMs (local-cluster). */
  def clusterMode: Boolean =
    sys.env.get("SPARK_GRAFT_MASTER").exists(_.startsWith("local-cluster"))

  /** @param localMaster master used when `SPARK_GRAFT_MASTER` is unset
    *                    (default `local[cpus]`; RetryProbe needs
    *                    `local[cpus, 4]` for task retries). */
  def apply(cpus: String, localMaster: Option[String] = None,
            logLevel: String = "WARN",
            confs: Seq[(String, String)] = Nil): SparkSession = {
    val m = sys.env.getOrElse("SPARK_GRAFT_MASTER",
      localMaster.getOrElse(s"local[$cpus]"))
    val cluster =
      if (!m.startsWith("local-cluster")) Nil
      else Seq(
        "spark.executor.extraClassPath" -> sys.props("java.class.path"),
        "spark.executor.extraJavaOptions" ->
          org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions(),
        // one executor fills each worker: executor memory = the worker
        // memory from the master string (local-cluster[w,c,MB]) unless
        // overridden — a fixed default either under-uses the worker or
        // fails launch ("requested N MiB/executor > worker")
        "spark.executor.memory" -> sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM",
          m.replaceAll("""^local-cluster\[\s*\d+\s*,\s*\d+\s*,\s*(\d+)\s*\]$""",
            "$1") + "m"))
    val shared = Seq(
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.ansi.enabled" -> "false",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString)
    val spark = (cluster ++ shared ++ confs)
      .foldLeft(SparkSession.builder().master(m)) { case (b, (k, v)) =>
        b.config(k, v)
      }
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
