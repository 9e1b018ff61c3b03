package graft.pipeline

import graft.core.{Conform, Metrics, Schema}
import graft.io.{FsUtils, ParquetTables, Sources, TableFormat}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.time.{Instant, LocalDate, ZoneOffset}

/** The reference's one real pipeline, bronze → silver → gold, as plain
  * Scala over one SparkSession (the reference spreads this across four
  * Airflow DAGs, Docker containers, and Py4J — SURVEY §3).
  *
  * @param bronzeRoot   root dir of landed NDJSON (stands in for
  *                     s3a://bucket/dataset)
  * @param silverTable  conformed table (reference: silver.dw.tab_brewery)
  * @param goldTable    summary table (reference: gold.dw.tab_brewery_summary)
  * @param parityOverwrite full-table overwrite like the reference
  *                     (job_silver.py:174-178); false = dynamic
  *                     partition overwrite (the 100 TB mode)
  */
final case class PipelineConf(
    bronzeRoot: String,
    silverTable: String = "silver.dw.tab_brewery",
    goldTable: String = "gold.dw.tab_brewery_summary",
    partitionCol: String = "sys_file_date",
    parityOverwrite: Boolean = true,
    format: TableFormat = graft.catalog.CatalogTables
)

object PipelineConf {

  /** The reference's job-parameter format `yyyy-MM-dd_HH:mm:ss`
    * (job_silver.py:112). Quirk worth recording: the reference's
    * DEFAULT value `1900-01-01 00:00:00` uses a SPACE, so running
    * without the conf crashes its strptime — the parameter is
    * effectively mandatory. We accept both separators. */
  private val underscoreFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd_HH:mm:ss")
  private val spaceFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def parseDatetimeRef(s: String): java.time.LocalDateTime =
    try java.time.LocalDateTime.parse(s, underscoreFmt)
    catch { case _: java.time.format.DateTimeParseException => java.time.LocalDateTime.parse(s, spaceFmt) }

  /** Conf-key parity with the reference's spark-submit parameters
    * (job_silver.py:106-110, job_gold.py:34-38) — same key names, same
    * `'undefined'` / `'1900-01-01 00:00:00'` defaults. Returns the
    * config plus the reference datetime the partition date derives
    * from. `bronzeRoot` is `<bucket>/<dataset>` exactly as the
    * reference assembles its s3a prefix (job_silver.py:113). */
  def fromSparkConf(spark: SparkSession, pathRoot: String = ""): (PipelineConf, java.time.LocalDateTime) = {
    def conf(k: String, d: String) = spark.conf.getOption(k).getOrElse(d)
    val dtRef = conf("spark.job_silver_app.datetime_ref", "1900-01-01 00:00:00")
    val bucket = conf("spark.job_silver_app.bucket_name", "undefined")
    val dataset = conf("spark.job_silver_app.dataset_name", "undefined")
    val silver = conf("spark.job_silver_app.silver_table_name", "undefined")
    val gold = conf("spark.job_gold_app.golden_table_name", "undefined")
    val pc = PipelineConf(
      bronzeRoot = Seq(pathRoot, bucket, dataset).filter(_.nonEmpty).mkString("/"),
      silverTable = if (silver == "undefined") "silver.dw.tab_brewery" else silver,
      goldTable = if (gold == "undefined") "gold.dw.tab_brewery_summary" else gold
    )
    (pc, parseDatetimeRef(dtRef))
  }
}

object BreweryPipeline {

  /** The reference pins partition dates to the pipeline execution date
    * shifted by a FIXED −3h (America/Sao_Paulo sans DST — an intentional
    * quirk, reference: datalake_silver_spark_dag.py:132-133). Preserved
    * verbatim; `LocalDate.now` is never used — dates are always derived
    * from an explicit instant. */
  def saoPauloDate(executionInstant: Instant): LocalDate =
    executionInstant.minusSeconds(3 * 3600).atZone(ZoneOffset.UTC).toLocalDate

  private def ensureDatabase(spark: SparkSession, table: String): Unit = {
    ensureLakeCatalog(spark, table)
    val db = table.split('.').dropRight(1).mkString(".")
    if (db.nonEmpty) spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
  }

  /** Auto-register the catalog a 3-part table name needs, mirroring the
    * reference's per-job `spark.sql.catalog.silver`/`gold` setup
    * (job_gold.py:50-58 — warehouse under the bucket): the snapshot
    * root defaults to `<spark.sql.warehouse.dir>/<catalog>_warehouse`.
    * A catalog the session already configured (any implementation) is
    * left untouched. 2-part names (session catalog) are a no-op. */
  def ensureLakeCatalog(spark: SparkSession, table: String): Unit = {
    val parts = table.split('.')
    if (parts.length >= 3) {
      val cat = parts.head
      if (spark.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
        val wh = spark.conf.get("spark.sql.warehouse.dir")
        spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.SnapshotCatalog].getName)
        spark.conf.set(s"spark.sql.catalog.$cat.root", s"$wh/${cat}_warehouse")
      }
    }
  }

  /** Silver: NDJSON under `bronzeRoot/sys_file_date=<d>/` → conform to the
    * brewery spec → stamp partition date → managed table. Returns rows
    * written, 0 when the emptiness gate fires (reference:
    * job_silver.py:129,152-154,183-184).
    *
    * The reference counts the day before writing it, twice
    * (job_silver.py:149,152); here the gate costs no pass of its own.
    * Every inferred field comes from a record (a malformed line adds
    * `_corrupt_record`), so a day whose schema has a field has a row;
    * only a field-less day (blank lines, `[]`, `{}` records) takes a
    * job to tell. The row count is observed during the write. */
  def runSilver(spark: SparkSession, conf: PipelineConf, date: LocalDate): Long = {
    val prefix = s"${conf.bronzeRoot}/${conf.partitionCol}=$date"
    if (!FsUtils.prefixExists(spark, prefix)) return 0L

    val raw = Sources.ndjsonInfer(spark, prefix)
    if (raw.schema.isEmpty && raw.isEmpty) return 0L
    val conformed = Conform.withPartitionStamp(raw, Schema.brewerySpec, conf.partitionCol, date)
    ensureDatabase(spark, conf.silverTable)
    Metrics.observedRows(conformed, s"silver_$date") { df =>
      if (conf.parityOverwrite)
        conf.format.overwriteTable(df, conf.silverTable, Seq(conf.partitionCol))
      else {
        createSilverIfAbsent(spark, conf)
        conf.format.overwritePartitions(df, conf.silverTable, Seq(conf.partitionCol))
      }
    }
  }

  private def createSilverIfAbsent(spark: SparkSession, conf: PipelineConf): Unit = {
    val cols = Schema
      .toStructType(Schema.brewerySpec)
      .fields
      .map(f => s"${f.name} ${f.dataType.sql}")
      .mkString(", ")
    spark.sql(
      s"CREATE TABLE IF NOT EXISTS ${conf.silverTable} ($cols, ${conf.partitionCol} DATE) " +
        s"USING PARQUET PARTITIONED BY (${conf.partitionCol})"
    )
  }

  /** Gold: the reference's aggregation verbatim — ordinal GROUP BY/ORDER
    * BY over one date partition (reference: job_gold.py:71-88), with the
    * date passed as a named SQL parameter instead of an f-string
    * (job_gold.py builds it by interpolation — SQL-injection-prone).
    * The silver relation resolves through the TableFormat's read side,
    * so the same SQL runs over catalog tables and snapshot tables. */
  def goldQuery(spark: SparkSession, conf: PipelineConf, date: LocalDate): DataFrame = {
    // 3-part names resolve straight through the catalog — the
    // reference's FROM silver.dw.tab_brewery shape, verbatim
    // (job_gold.py:71-88); 2-part/path formats go through a temp view
    // over the format's read side.
    val relation =
      if (conf.silverTable.split('.').length >= 3) {
        ensureLakeCatalog(spark, conf.silverTable)
        conf.silverTable
      } else {
        val view = "graft_silver_" + conf.silverTable.replace('.', '_')
        conf.format.read(spark, conf.silverTable).createOrReplaceTempView(view)
        view
      }
    spark.sql(
      s"""SELECT ${conf.partitionCol}, brewery_type, country, count(*) AS qtd
         |FROM $relation
         |WHERE ${conf.partitionCol} = :run_date
         |GROUP BY 1, 2, 3
         |ORDER BY 1, 2, 3""".stripMargin,
      Map("run_date" -> date.toString)
    )
  }

  /** Gold write with the row-count metric observed DURING the write —
    * the reference executes its plan three times for show/write/count
    * (SURVEY §3.1); here the count rides along the single write pass. */
  def runGold(spark: SparkSession, conf: PipelineConf, date: LocalDate): Long = {
    ensureDatabase(spark, conf.goldTable)
    val agg = goldQuery(spark, conf, date)
    Metrics.observedRows(agg, s"gold_$date") { df =>
      conf.format.overwriteTable(df, conf.goldTable, Seq(conf.partitionCol))
    }
  }

  /** Full run with the reference's gating (silver empty → skip gold). */
  def run(spark: SparkSession, conf: PipelineConf, date: LocalDate): (Long, Long) = {
    val silverRows = runSilver(spark, conf, date)
    val goldRows = if (silverRows > 0) runGold(spark, conf, date) else 0L
    (silverRows, goldRows)
  }

  /** The data prefix the report's object/byte stats scan. 3-part names
    * resolve through the registered [[graft.catalog.SnapshotCatalog]]
    * to the table's write-once pool `data/` — all retained versions'
    * data files, like the `<table>/data` prefix the reference counts
    * (Iceberg's data dir also holds every retained snapshot's files);
    * 2-part names are session-catalog table locations. */
  private def tableDataLocation(spark: SparkSession, table: String): String = {
    val parts = table.split('.')
    if (parts.length >= 3)
      org.apache.spark.sql.GraftSqlBridge.catalogPlugin(spark, parts.head) match {
        case sc: graft.catalog.SnapshotCatalog =>
          sc.tablesFor(parts.slice(1, parts.length - 1)).rootPath + s"/${parts.last}/data"
        case other => throw new IllegalArgumentException(
          s"catalog '${parts.head}' is ${other.getClass.getName}, not a graft SnapshotCatalog")
      }
    else org.apache.spark.sql.GraftSqlBridge.tableLocation(spark, table)
  }

  /** End-of-run report — the reference DAG's `calc_total_time` task
    * plus the gold job's preview, field for field
    * (datalake_pipeline_breweries.py:150-181, job_gold.py:91-92):
    *  1. `Total execution time: HH:MM:SS` — NOTE the report task
    *     zero-pads hours (`{int(total_hours):02d}`), unlike the
    *     notification's `str(timedelta)` format ([[graft.core
    *     .Notifications.formatDuration]]) — both quirks preserved;
    *  2/3. `Total objects on <zone> zone <table>: N, Total bytes: B`
    *     per zone, from the same prefix stats as
    *     `get_qtd_and_size_minio` ([[graft.io.FsUtils.prefixStats]]);
    *  4/5. the gold query's schema tree + `show()` preview (W3),
    *     captured as strings so they flow through the same sink.
    * Call after a successful [[run]]; returns the lines it sank. */
  def report(
      spark: SparkSession,
      conf: PipelineConf,
      date: LocalDate,
      startMillis: Long,
      endMillis: Long,
      sink: String => Unit = println,
      previewRows: Int = 20
  ): Seq[String] = {
    val total = math.max(0L, (endMillis - startMillis) / 1000L)
    def zone(label: String, tableName: String): String = {
      val (n, b) = graft.io.FsUtils.prefixStats(spark, tableDataLocation(spark, tableName))
      s"Total objects on $label zone ${tableName.split('.').last}: $n, Total bytes: $b"
    }
    val gold = goldQuery(spark, conf, date)
    val lines = Seq(
      f"Total execution time: ${total / 3600}%02d:${total % 3600 / 60}%02d:${total % 60}%02d",
      zone("silver", conf.silverTable),
      zone("gold", conf.goldTable),
      gold.schema.treeString.stripLineEnd,
      org.apache.spark.sql.GraftSqlBridge.showString(gold, previewRows))
    lines.foreach(sink)
    lines
  }
}
