package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * The reference configures its sessions per-job via `spark-submit --conf`
  * (reference: airflow/dags/datalake_silver_spark_dag.py:168-214); we
  * centralize the scale-relevant defaults instead:
  *
  *  - `spark.sql.shuffle.partitions` sized to the local core count (not the
  *    200 default) — on a real cluster this is overridden to ~2-3× total
  *    cores; AQE coalesces down from there.
  *  - AQE on (coalesce partitions + skew-join handling), which is the
  *    100 TB answer to skewed keys and mis-sized shuffles.
  *  - UTC session timezone so partition-date derivation is explicit, never
  *    wall-clock (reference hard-codes UTC−3; see
  *    graft.pipeline.PipelineConf.saoPauloDate).
  *  - Spark's JVM-wide generated-code cache sized to graft's working set
  *    ([[CodegenCacheEntries]]), so a query served again reuses its
  *    compiled classes instead of compiling them again.
  */
object GraftSession {
  // the JDK HttpServer defaults to Nagle-enabled sockets, and its
  // delayed-ACK interaction stalls every small request ~40 ms — a 4x
  // tax on the loopback wire servers (Nessie/lake/S3). Must be set
  // BEFORE the first HttpServer class-loads (its ServerConfig reads
  // properties once, statically), so it lives in the session factory
  // every entry point goes through.
  System.setProperty("sun.net.httpserver.nodelay", "true")

  /** `spark.sql.codegen.cache.maxEntries` (a static conf: it takes
    * effect only when the builder starts the JVM's first SparkContext).
    * Spark's `CodeGenerator` cache is keyed on (class loader, source),
    * and in local mode a class that tasks run compiles twice — under
    * the driver's loader and under the tasks' session loader. Measured
    * at sf0.01, local[4]: with Spark's default of 100 entries one pass
    * over the 11 `Corpus.headlines` queries inserted 257, and a
    * shuffled loop over them recompiled 21 classes per query. One pass
    * over the headlines inserts 186 entries (with `useIdInClassName`
    * off, below), one pass over all 183 corpus queries 2,150; the
    * constant is about twice that. An entry is one loaded class, and
    * the cache stays LRU-bounded.
    *
    * `spark.sql.codegen.useIdInClassName` is off for the same reason:
    * AQE numbers a query's codegen stages in the order it plans them,
    * which follows which stage finishes first, and with the number in
    * the class name every ordering compiles a new source. */
  val CodegenCacheEntries = 4096

  def builder(appName: String = "graft", cores: Int = defaultCores): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")

  /** Local session used by tests and the CLI mains. */
  def local(appName: String = "graft", cores: Int = defaultCores): SparkSession =
    builder(appName, cores).master(s"local[$cores]").getOrCreate()

  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors.min(32))
}
