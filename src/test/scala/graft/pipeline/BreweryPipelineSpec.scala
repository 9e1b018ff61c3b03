package graft.pipeline

import graft.SparkSpec
import graft.io.FsUtils
import java.nio.file.Files
import java.time.{Instant, LocalDate}

class BreweryPipelineSpec extends SparkSpec {

  private def rec(id: String, btype: String, country: String, extra: String = "",
                  phone: String = "4058160490"): String = {
    val t = if (btype == null) "null" else s""""$btype""""
    val c = if (country == null) "null" else s""""$country""""
    s"""{"id":"$id","name":"Brew $id","brewery_type":$t,"country":$c,"longitude":"-97.46","latitude":"35.25","phone":"$phone"$extra}"""
  }

  private val date = LocalDate.parse("2026-08-12")

  private def landFixture(root: String): Unit = {
    val dir = java.nio.file.Paths.get(s"$root/sys_file_date=$date")
    Files.createDirectories(dir)
    // FIXTURES.md A.3 golden fixture: 2x micro/US, 1x brewpub/US,
    // 1x micro/null-country, 1x null-type/US; plus an extra column to
    // drop and a bad numeric to null out.
    val lines = Seq(
      rec("a1", "micro", "United States"),
      rec("a2", "micro", "United States", ""","surprise_col":"x""""),
      rec("a3", "brewpub", "United States"),
      rec("a4", "micro", null),
      rec("a5", null, "United States", phone = "not-a-phone")
    )
    Files.write(dir.resolve("node_1_page_1.json"), lines.mkString("\n").getBytes)
  }

  test("bronze->silver->gold E2E matches FIXTURES.md golden rows") {
    val root = Files.createTempDirectory("bronze").toString
    landFixture(root)
    val conf = PipelineConf(bronzeRoot = root)
    val (silverRows, goldRows) = BreweryPipeline.run(spark, conf, date)
    assert(silverRows == 5)
    assert(goldRows == 4)

    val silver = spark.table(conf.silverTable)
    assert(!silver.columns.contains("surprise_col"))
    assert(silver.schema("phone").dataType.typeName == "long")
    assert(silver.where("id = 'a5'").select("phone").collect().head.isNullAt(0))

    val gold = BreweryPipeline.goldQuery(spark, conf, date)
    val got = gold.collect().map(r => (Option(r.getString(1)), Option(r.getString(2)), r.getLong(3))).toSeq
    // Spark ASC = NULLS FIRST (FIXTURES.md A.3)
    val want = Seq(
      (None, Some("United States"), 1L),
      (Some("brewpub"), Some("United States"), 1L),
      (Some("micro"), None, 1L),
      (Some("micro"), Some("United States"), 2L)
    )
    assert(got == want)
    assert(gold.columns.toSeq == Seq("sys_file_date", "brewery_type", "country", "qtd"))
  }

  test("emptiness gate: missing prefix -> zero rows, no gold run") {
    val root = Files.createTempDirectory("bronze-empty").toString
    val conf = PipelineConf(
      bronzeRoot = root,
      silverTable = "silver_dw.tab_empty",
      goldTable = "gold_dw.tab_empty_summary"
    )
    val (s, g) = BreweryPipeline.run(spark, conf, date)
    assert(s == 0L && g == 0L)
    assert(!spark.catalog.tableExists(conf.goldTable))
  }

  /** Run one day whose only file holds `lines`, on a fresh snapshot
    * table pair: the run's result and the versions it committed. */
  private def runDay(lines: String*): ((Long, Long), Int, Int) = {
    val root = Files.createTempDirectory("bronze-gate").toString
    val dir = java.nio.file.Paths.get(s"$root/sys_file_date=$date")
    Files.createDirectories(dir)
    Files.write(dir.resolve("node_1_page_1.json"), lines.mkString("\n").getBytes)
    val snaps = new graft.io.SnapshotTables(spark, Files.createTempDirectory("gate-wh").toString)
    val conf = PipelineConf(bronzeRoot = root, format = snaps, silverTable = "s", goldTable = "g")
    (BreweryPipeline.run(spark, conf, date), snaps.currentVersion("s"), snaps.currentVersion("g"))
  }

  test("emptiness gate: a day of blank lines or of [] records commits nothing and skips gold") {
    assert(runDay("", "  ", "") == (((0L, 0L), 0, 0)))
    assert(runDay("[]", "[]") == (((0L, 0L), 0, 0)))
  }

  test("emptiness gate: {} records and a malformed line are rows, counted as the reference counts them") {
    // two field-less records: two all-null silver rows, one gold group
    assert(runDay("{}", "{}") == (((2L, 1L), 1, 1)))
    assert(runDay("not json at all") == (((1L, 1L), 1, 1)))
  }

  test("a warm daily run on catalog tables is 4 Spark jobs, with no count and no new class for a new date") {
    val root = Files.createTempDirectory("bronze-jobs").toString
    val conf = PipelineConf(bronzeRoot = root,
      silverTable = "silver.dwjobs.tab_brewery", goldTable = "gold.dwjobs.tab_brewery_summary")
    val days = (0 until 3).map(i => date.plusDays(10 + i))
    days.foreach(d => BreweryFixture.land(root, d, rows = 2000))
    assert(BreweryPipeline.run(spark, conf, days(0)) == ((2000L, 30L)))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val qel = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.optimizedPlan.treeString)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(qel)
    val (out, jobs) =
      try graft.JobCount(spark)(BreweryPipeline.run(spark, conf, days(1)))
      finally spark.listenerManager.unregister(qel)
    assert(out == ((2000L, 30L)))
    assert(jobs.length == 4, jobs)
    assert(!jobs.exists(_.startsWith("count at BreweryPipeline")), jobs)
    assert(plans.size >= 2 && !plans.toString.contains("InMemoryRelation"), plans)
    val c0 = org.apache.spark.CodegenCache.compiles
    assert(BreweryPipeline.run(spark, conf, days(2)) == ((2000L, 30L)))
    assert(org.apache.spark.CodegenCache.compiles - c0 == 0L)
    // gold's version holds ONE data file, its rows in ORDER BY 1, 2, 3
    // order, NULLS FIRST (FIXTURES.md A.3), read straight from the file
    val st = org.apache.spark.sql.GraftSqlBridge.catalogPlugin(spark, "gold") match {
      case c: graft.catalog.SnapshotCatalog => c.tablesFor(Array("dwjobs"))
      case other => fail(s"gold is ${other.getClass.getName}")
    }
    val dataDir = java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(
      st.snapshotDirString("tab_brewery_summary", st.currentVersion("tab_brewery_summary"))).toUri.getPath)
    val files = Files.walk(dataDir).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    assert(files.length == 1 && files.head.toString.contains(s"sys_file_date=${days(2)}"), files)
    val keys = spark.read.parquet(files.head.toString).select("brewery_type", "country").collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)))).toSeq
    assert(keys.length == 30 && keys.distinct == keys)
    assert(keys.head == ((None, None)) && keys == keys.sorted, keys) // None (NULL) sorts first
  }

  test("dynamic partition overwrite on catalog tables observes the day's rows on every run") {
    val root = Files.createTempDirectory("bronze-dyn").toString
    val conf = PipelineConf(bronzeRoot = root, parityOverwrite = false,
      silverTable = "silver.dwdyn.tab_brewery", goldTable = "gold.dwdyn.tab_brewery_summary")
    val days = Seq(date, date.plusDays(1))
    days.foreach(d => BreweryFixture.land(root, d, rows = 300))
    days.foreach(d => assert(BreweryPipeline.run(spark, conf, d) == ((300L, 30L))))
    assert(BreweryPipeline.run(spark, conf, date) == ((300L, 30L)))
    assert(spark.table(conf.silverTable).count() == 600L)
  }

  test("re-run of same date is idempotent (parity full overwrite)") {
    val root = Files.createTempDirectory("bronze2").toString
    landFixture(root)
    val conf = PipelineConf(
      bronzeRoot = root,
      silverTable = "silver_dw.tab_rerun",
      goldTable = "gold_dw.tab_rerun_summary"
    )
    BreweryPipeline.run(spark, conf, date)
    BreweryPipeline.run(spark, conf, date)
    assert(spark.table(conf.silverTable).count() == 5)
    assert(spark.table(conf.goldTable).count() == 4)
  }

  test("corrupted bronze line is dropped and counted by the validated read (P8)") {
    val root = Files.createTempDirectory("bronze-corrupt").toString
    landFixture(root)
    val dir = java.nio.file.Paths.get(s"$root/sys_file_date=$date")
    // append a torn line (truncated JSON — a mid-upload failure shape)
    // and a second file that is pure garbage
    Files.write(dir.resolve("node_2_page_2.json"),
      (rec("a6", "micro", "Ireland") + "\n" + """{"id":"a7","name":"torn""").getBytes)
    val raw = new String(Files.readAllBytes(dir.resolve("node_1_page_1.json")))
    Files.write(dir.resolve("node_1_page_1.json"), (raw + "\nnot json at all").getBytes)
    // raw landing schema is schema-on-read strings; Conform does the typing
    val rawSchema = org.apache.spark.sql.types.StructType(
      graft.core.Schema.toStructType(graft.core.Schema.brewerySpec).fields.map(f =>
        org.apache.spark.sql.types.StructField(f.name, org.apache.spark.sql.types.StringType)))
    val (df, obs) = graft.io.Sources.ndjsonValidated(spark, s"$root/sys_file_date=$date", rawSchema)
    val conformed = graft.core.Conform.withPartitionStamp(df, graft.core.Schema.brewerySpec,
      "sys_file_date", date)
    val n = conformed.count()
    assert(n == 6) // 5 golden + a6; the torn line and the garbage line dropped
    assert(obs.get("n_lines") == 8L)
    assert(obs.get("n_malformed") == 2L)
  }

  test("saoPauloDate applies the fixed -3h shift (DST ignored, as reference)") {
    assert(BreweryPipeline.saoPauloDate(Instant.parse("2026-08-12T02:59:00Z")).toString == "2026-08-11")
    assert(BreweryPipeline.saoPauloDate(Instant.parse("2026-08-12T03:00:00Z")).toString == "2026-08-12")
  }

  test("FsUtils probes: exists/stats/delete") {
    val root = Files.createTempDirectory("fsprobe").toString
    assert(!FsUtils.prefixExists(spark, s"$root/nope"))
    Files.write(java.nio.file.Paths.get(s"$root/a.txt"), "hello".getBytes)
    assert(FsUtils.prefixExists(spark, root))
    val (files, bytes) = FsUtils.prefixStats(spark, root)
    assert(files == 1 && bytes == 5)
    assert(FsUtils.deletePrefix(spark, root))
    assert(!FsUtils.prefixExists(spark, root))
  }

  test("pipeline runs end-to-end on SnapshotTables (versioned commits + time travel)") {
    val root = Files.createTempDirectory("bronze-snap").toString
    landFixture(root)
    val whRoot = Files.createTempDirectory("snap-wh").toString
    val snaps = new graft.io.SnapshotTables(spark, whRoot, previousVersionsMax = 5)
    val conf = PipelineConf(bronzeRoot = root, format = snaps,
      silverTable = "snap_silver", goldTable = "snap_gold")
    val (s1, g1) = BreweryPipeline.run(spark, conf, date)
    assert(s1 == 5 && g1 == 4)
    // rerun = new versions, same results (the reference's daily overwrite)
    val (s2, _) = BreweryPipeline.run(spark, conf, date)
    assert(s2 == 5)
    assert(snaps.currentVersion("snap_silver") == 2)
    assert(snaps.currentVersion("snap_gold") == 2)
    // time travel to the first gold version
    assert(snaps.readVersion("snap_gold", 1).count() == 4)
    val gold = snaps.read("snap_gold")
    assert(gold.count() == 4)
  }

  test("report emits calc_total_time + per-zone stats + gold preview, message-exact (O8/W3)") {
    val root = Files.createTempDirectory("bronze-report").toString
    landFixture(root)
    val conf = PipelineConf(bronzeRoot = root,
      silverTable = "silver.dwrep.tab_brewery", goldTable = "gold.dwrep.tab_brewery_summary")
    BreweryPipeline.run(spark, conf, date)
    val sunk = scala.collection.mutable.ArrayBuffer.empty[String]
    val lines = BreweryPipeline.report(spark, conf, date,
      startMillis = 0L, endMillis = 3725000L, sink = sunk += _)
    assert(lines == sunk.toSeq)
    // the report task zero-pads hours (reference
    // datalake_pipeline_breweries.py:160-162), unlike str(timedelta)
    assert(lines(0) == "Total execution time: 01:02:05")
    val zoneRe = """Total objects on (silver|gold) zone (\w+): (\d+), Total bytes: (\d+)""".r
    val silverM = zoneRe.findFirstMatchIn(lines(1)).get
    assert(silverM.group(1) == "silver" && silverM.group(2) == "tab_brewery")
    assert(silverM.group(3).toLong > 0 && silverM.group(4).toLong > 0)
    val goldM = zoneRe.findFirstMatchIn(lines(2)).get
    assert(goldM.group(1) == "gold" && goldM.group(2) == "tab_brewery_summary")
    assert(goldM.group(3).toLong > 0 && goldM.group(4).toLong > 0)
    // the gold preview: printSchema tree + show() table (job_gold.py:91-92)
    assert(lines(3).startsWith("root") && lines(3).contains("qtd"))
    assert(lines(4).contains("brewery_type") && lines(4).contains("micro"))
  }

  test("Main CLI arg parsing covers the pipeline surface") {
    val a = graft.Main.parse(List("--bronze", "/b", "--date", "2026-01-01",
      "--silver-table", "s.t", "--partition-overwrite", "--snapshot-root", "/w"))
    assert(a.bronze == "/b" && a.date.contains(java.time.LocalDate.parse("2026-01-01")))
    assert(a.silverTable == "s.t" && a.partitionOverwrite && a.snapshotRoot.contains("/w"))
    intercept[IllegalArgumentException] { graft.Main.parse(List("--nope")) }
  }
}
