package graft.io

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Readers for the engine's source formats.
  *
  * The reference reads schema-on-read NDJSON under Hive-style date
  * partition prefixes with `inferSchema` (reference:
  * spark/jobs/job_silver.py:143-147). Inference is a full extra pass
  * over the data — unacceptable at 100 TB — so the explicit-schema
  * reader is primary and infer-mode is kept for capability parity.
  */
object Sources {

  /** NDJSON with explicit schema (the scale path — one pass, no inference;
    * partition columns are discovered from Hive-style paths). */
  def ndjson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** NDJSON with schema inference — parity mode for
    * `.option('inferSchema','true').json(prefix)` (job_silver.py:143-147).
    *
    * The lines are read first and Spark's own JSON inference
    * (`TextInputJsonDataSource.inferFromDataset`, the one the file
    * reader calls) runs over them; the returned frame is the file-source
    * scan with that schema, the same relation the inferring reader
    * builds. Handing the path to the inferring reader instead costs a
    * Spark job before inference even starts: its inference re-opens
    * every leaf file as a root path of its own, and past
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) root
    * paths Spark lists them in a distributed "Listing leaf files" job —
    * one task per file, on every daily prefix of more than 32 pages.
    * Reading the lines lists the prefix once, as one root path, with no
    * job. A prefix with no data files keeps the inferring reader's
    * error ("unable to infer schema"). */
  def ndjsonInfer(spark: SparkSession, path: String): DataFrame = {
    val lines = spark.read.textFile(path)
    if (lines.inputFiles.isEmpty) spark.read.json(path)
    else spark.read.schema(spark.read.json(lines).schema).json(path)
  }

  /** NDJSON read with a malformed-line guard (the read-side half of the
    * reference's `is_valid_json` gate): lines that fail try_parse_json
    * are dropped BEFORE schema application, and counted via `observe` —
    * the counter rides the read's own execution, costing zero extra
    * passes (read the Observation after your action:
    * `obs.get("n_malformed")`). Valid lines parse through the explicit
    * schema, so one corrupted line degrades to a counted drop instead
    * of a null-riddled row or a failed 100 TB job. */
  def ndjsonValidated(spark: SparkSession, path: String, schema: StructType): (DataFrame, Observation) = {
    val obs = Observation()
    val lines = spark.read.text(path).observe(
      obs,
      count(lit(1)).as("n_lines"),
      count_if(expr("try_parse_json(value) IS NULL")).as("n_malformed")
    )
    val df = lines
      .filter(expr("try_parse_json(value) IS NOT NULL"))
      .select(from_json(col("value"), schema).as("__r"))
      .select("__r.*")
    (df, obs)
  }

  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Catalog table scan (`FROM silver.dw.tab_brewery`, job_gold.py:71-88). */
  def table(spark: SparkSession, name: String): DataFrame =
    spark.table(name)

  /** Load one of the standard testdata tables from a scale-factor dir. */
  def fixture(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")
}
