package graft.perfbench

import java.nio.file.{Path, Paths}
import java.time.LocalDate

import graft.pipeline.{BreweryPipeline, PipelineConf}

/** Shows that the traced run's counting FileSystem changes nothing the
  * engine answers or plans: every headline query and one daily pipeline
  * run execute under `file:` and under `cfs:` in one JVM, and their
  * answers and their formatted `explain` output (paths and session-wide
  * ids normalised) must be equal.
  * {{{ FsCheck <work dir> }}} */
object FsCheck {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    val spark = graft.core.GraftSession.builder("perfbench-fscheck", 4).master("local[4]")
      .config("spark.hadoop.fs.cfs.impl", classOf[CountingFileSystem].getName)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toUri.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def normalise(plan: String, root: Path): String =
      plan.replace(s"cfs://$root", "<root>").replace(s"cfs:$root", "<root>")
        .replace(s"file://$root", "<root>").replace(s"file:$root", "<root>")
        // session-wide counters: expression, plan, lambda-variable and RDD ids
        .replaceAll("#\\d+", "#N").replaceAll("plan_id=\\d+", "plan_id=N")
        .replaceAll("\\bx_\\d+", "x_N").replaceAll("RDD\\[\\d+\\]", "RDD[N]")

    /** (name, answer hash, normalised explain) per check, under one scheme. */
    def runAll(scheme: String): Seq[(String, (Long, String), String)] = {
      val root = work.resolve(scheme)
      val uri = s"$scheme://$root"
      Data.writeFixtures(spark, s"$uri/fixtures")
      val queries = graft.queries.Corpus.headlines.map { q =>
        val df = q.run(spark, s"$uri/fixtures")
        val hash = Stats.resultHash(df.schema, df.collect().iterator)
        (q.name, hash, normalise(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode), root))
      }
      val day = Data.landBreweryDay(root.resolve("bronze"), LocalDate.of(2026, 3, 1), new scala.util.Random(7))
      val conf = PipelineConf(bronzeRoot = s"$uri/bronze",
        silverTable = s"${scheme}_silver.dw.tab_brewery", goldTable = s"${scheme}_gold.dw.tab_brewery_summary")
      spark.conf.set(s"spark.sql.catalog.${scheme}_silver", classOf[graft.catalog.SnapshotCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.${scheme}_silver.root", s"$uri/silver")
      spark.conf.set(s"spark.sql.catalog.${scheme}_gold", classOf[graft.catalog.SnapshotCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.${scheme}_gold.root", s"$uri/gold")
      BreweryPipeline.run(spark, conf, day.date)
      val gold = spark.table(conf.goldTable)
      val goldQ = BreweryPipeline.goldQuery(spark, conf, day.date)
      queries ++ Seq(
        ("medallion.gold", Stats.resultHash(gold.schema, gold.collect().iterator), ""),
        ("medallion.gold_query", Stats.resultHash(goldQ.schema, goldQ.collect().iterator),
          normalise(goldQ.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode), root)
            .replace("file_silver", "<cat>").replace("cfs_silver", "<cat>")))
    }

    val plain = runAll("file")
    val counted = runAll("cfs")
    var bad = 0
    plain.zip(counted).foreach { case ((n, h1, e1), (_, h2, e2)) =>
      val answers = if (h1 == h2) "equal" else { bad += 1; s"DIFFER $h1 vs $h2" }
      val plans = if (e1 == e2) "equal" else { bad += 1; "DIFFER" }
      println(f"fs-check $n%-28s answer $answers%-8s explain $plans")
      if (e1 != e2) println(s"--- file:\n$e1\n--- cfs:\n$e2")
    }
    println(s"fs-check: ${plain.size} checks, $bad differences")
    spark.stop()
    sys.exit(if (bad == 0) 0 else 1)
  }
}
