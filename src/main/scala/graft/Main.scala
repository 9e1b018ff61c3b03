package graft

import java.time.LocalDate

import graft.io.{ParquetTables, SnapshotTables, TableFormat}
import graft.pipeline.{BreweryPipeline, PipelineConf}

/** CLI entry point — the spark-submit surface of the engine, replacing
  * the reference's four Airflow DAGs + DockerOperator chain with one
  * binary (SURVEY §2.i O5/O6).
  *
  * {{{
  *   spark-submit --class graft.Main graft.jar \
  *     pipeline --bronze /data/brewery --date 2026-01-01 \
  *     [--silver-table silver_dw.tab_brewery] [--gold-table gold_dw.tab_brewery_summary] \
  *     [--partition-overwrite] [--snapshot-root /warehouse/snapshots]
  * }}}
  *
  * Parameters can also come from the reference's own conf keys
  * (`--from-spark-conf`, reading `spark.job_silver_app.*` /
  * `spark.job_gold_app.*` with the reference's defaults — conf-key
  * parity, job_silver.py:106-110).
  */
object Main {

  final case class CliArgs(
      bronze: String = "",
      date: Option[LocalDate] = None,
      silverTable: String = "silver_dw.tab_brewery",
      goldTable: String = "gold_dw.tab_brewery_summary",
      partitionOverwrite: Boolean = false,
      snapshotRoot: Option[String] = None,
      fromSparkConf: Boolean = false
  )

  private[graft] def parse(rest: List[String], acc: CliArgs = CliArgs()): CliArgs = rest match {
    case Nil => acc
    case "--bronze" :: v :: t => parse(t, acc.copy(bronze = v))
    case "--date" :: v :: t => parse(t, acc.copy(date = Some(LocalDate.parse(v))))
    case "--silver-table" :: v :: t => parse(t, acc.copy(silverTable = v))
    case "--gold-table" :: v :: t => parse(t, acc.copy(goldTable = v))
    case "--partition-overwrite" :: t => parse(t, acc.copy(partitionOverwrite = true))
    case "--snapshot-root" :: v :: t => parse(t, acc.copy(snapshotRoot = Some(v)))
    case "--from-spark-conf" :: t => parse(t, acc.copy(fromSparkConf = true))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "pipeline" :: rest =>
      val cli = parse(rest)
      val spark = graft.core.GraftSession.local("graft-pipeline")
      try {
        val format: TableFormat = cli.snapshotRoot
          .map(r => new SnapshotTables(spark, r))
          .getOrElse(ParquetTables)
        val (conf0, date) =
          if (cli.fromSparkConf) {
            val (c, dtRef) = PipelineConf.fromSparkConf(spark)
            (c, BreweryPipeline.saoPauloDate(dtRef.toInstant(java.time.ZoneOffset.UTC)))
          } else {
            require(cli.bronze.nonEmpty, "--bronze is required (or use --from-spark-conf)")
            (PipelineConf(bronzeRoot = cli.bronze, silverTable = cli.silverTable,
              goldTable = cli.goldTable), cli.date.getOrElse(
              sys.error("--date is required (or use --from-spark-conf)")))
          }
        val conf = conf0.copy(parityOverwrite = !cli.partitionOverwrite, format = format)
        // O8 parity: the reference's end-of-run notify task / failure
        // callback, print-stubbed exactly like the reference's sender
        val (silverRows, goldRows) =
          graft.core.Notifications.notified("graft-pipeline-brewery", date.toString) {
            BreweryPipeline.run(spark, conf, date)
          }
        println(s"""{"pipeline":"brewery","date":"$date","silver_rows":$silverRows,"gold_rows":$goldRows}""")
      } finally spark.stop()

    case "verify" :: sfDir :: outDir :: names => Verify.main((sfDir :: outDir :: names).toArray)
    case _ =>
      System.err.println(
        """usage:
          |  graft.Main pipeline --bronze <dir> --date <yyyy-MM-dd>
          |      [--silver-table t] [--gold-table t] [--partition-overwrite]
          |      [--snapshot-root dir] | --from-spark-conf
          |  graft.Main verify <sfDir> <outDir> [query…]""".stripMargin)
      sys.exit(2)
  }
}
