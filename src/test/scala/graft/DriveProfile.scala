package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev profiler (round-20 optimization): per-query Spark job timeline.
  *
  * For each named corpus query: one untimed warm pass, then a profiled
  * pass (each collects and hashes the result, as perfbench does) that
  * records every Spark job (start offset, wall duration, call
  * site, executor task time) plus the driver-side gap between jobs —
  * the number that separates "executor-bound" from "driver/commit-bound"
  * queries before touching any code.
  *
  * {{{ sbt "Test/runMain graft.DriveProfile /root/testdata/sf0.1 q176_v3_dv_dml" }}}
  *
  * `daily [days]` profiles the paper's daily pipeline instead: it lands
  * `days` (default 12) consecutive seeded days of ~8,900 brewery
  * records in 45 NDJSON files and runs [[graft.pipeline.BreweryPipeline.run]]
  * on each over 3-part snapshot-catalog names, printing per run every
  * Spark job (start offset, duration, tasks, call site) and the Janino
  * compiles and compile milliseconds of that run.
  * With an out dir it also writes the last run's silver write plan
  * (`silver_write.txt`), gold write plan (`gold_write.txt`, with AQE's
  * final plan) and unexecuted gold query plan (`gold_query.txt`), their
  * work-dir paths spelled `<work>`. Each job prints as its SQL
  * execution (`sql#<id> <description>`) when it has one.
  * {{{ sbt "Test/runMain graft.DriveProfile daily 12 plans/out" }}}
  */
object DriveProfile {
  final case class J(id: Int, site: String, t0: Long) {
    @volatile var t1: Long = 0L
    @volatile var taskTime: Long = 0L // executorRunTime ms summed over stages
    @volatile var tasks: Int = 0
  }

  /** SQL execution id → description (the action's call site, e.g.
    * `parquet at SnapshotTables.scala:…`). Every job an execution starts
    * carries its id, so AQE's stage jobs — whose last stage Spark names
    * after the pool thread that submits them (`$anonfun$… at
    * CompletableFuture.java:…`) — print as their query. */
  private val executions = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  private def jobLabel(e: SparkListenerJobStart): String = {
    val stage = e.stageInfos.lastOption.map(_.name).getOrElse("?")
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .fold(stage)(id => s"sql#$id ${Option(executions.get(id.toLong)).getOrElse(stage)}")
  }

  private def recordExecution(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      executions.put(s.executionId, s.description)
    case _ =>
  }

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("daily")) daily(args.lift(1).fold(12)(_.toInt), args.lift(2))
    else corpus(args)

  /** One day shaped like the benchmark's landed day: 8,800–8,999
    * records, 200 a file over 3 fetch nodes; a fifth of the files omit
    * columns, a quarter carry columns the spec drops, and about 1% of
    * phones and longitudes do not parse. */
  private def landDay(root: java.nio.file.Path, date: java.time.LocalDate, rng: scala.util.Random): Unit = {
    val dir = java.nio.file.Files.createDirectories(root.resolve(s"sys_file_date=$date"))
    val types = Seq("micro", "brewpub", "regional", "large", "nano", "planning", "contract", "closed")
    val countries = Seq("United States", "Ireland", "England", "Scotland", "South Korea", "Austria")
    (0 until 8800 + rng.nextInt(200)).grouped(200).zipWithIndex.foreach { case (chunk, page) =>
      val missing = rng.nextInt(5) == 0
      val extra = rng.nextInt(4) == 0
      val lines = chunk.map { i =>
        val phone = if (rng.nextInt(100) == 0) "not-a-phone" else (2000000000L + rng.nextInt(999999999)).toString
        val lon = if (rng.nextInt(100) == 0) "n/a" else f"${-125.0 + rng.nextDouble() * 60.0}%.8f"
        val fields = Seq(
          "id" -> s"$date-$i", "name" -> s"Brewery ${rng.nextInt(100000)}",
          "brewery_type" -> types(rng.nextInt(types.length)), "city" -> s"City${rng.nextInt(900)}",
          "state_province" -> s"State${rng.nextInt(60)}", "postal_code" -> f"${rng.nextInt(99999)}%05d",
          "country" -> countries(rng.nextInt(countries.length)), "longitude" -> lon,
          "latitude" -> f"${25.0 + rng.nextDouble() * 24.0}%.8f", "phone" -> phone,
          "website_url" -> s"http://example.com/b$i", "street" -> s"${rng.nextInt(9999)} Main St") ++
          (if (missing) Nil else Seq("address_2" -> "", "state" -> s"State${rng.nextInt(60)}")) ++
          (if (extra) Seq("updated_at" -> s"${date}T00:00:00Z") else Nil)
        fields.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
      }
      java.nio.file.Files.write(dir.resolve(s"node_${page % 3 + 1}_page_${page + 1}.json"),
        lines.mkString("\n").getBytes("UTF-8"))
    }
  }

  private def daily(days: Int, planDir: Option[String]): Unit = {
    import graft.pipeline.{BreweryPipeline, PipelineConf}
    val spark = graft.core.GraftSession.local("graft-profile-daily", 4)
    spark.sparkContext.setLogLevel("ERROR")
    val work = java.nio.file.Files.createTempDirectory("graft-daily")
    Seq("silver", "gold").foreach { cat =>
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.SnapshotCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", work.resolve(s"${cat}_warehouse").toUri.toString)
    }
    val bronze = work.resolve("bronze")
    val conf = PipelineConf(bronzeRoot = bronze.toUri.toString)
    val rng = new scala.util.Random(1)
    val jobs = mutable.ArrayBuffer.empty[J]
    val stageToJob = mutable.Map.empty[Int, J]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = recordExecution(e)
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val j = J(e.jobId, jobLabel(e), e.time)
        jobs += j
        e.stageIds.foreach(stageToJob(_) = j)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.find(_.id == e.jobId).foreach(_.t1 = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = jobs.synchronized {
        stageToJob.get(e.stageInfo.stageId).foreach { j =>
          j.taskTime += e.stageInfo.taskMetrics.executorRunTime
          j.tasks += e.stageInfo.numTasks
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val formatted = org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    def planText(qe: org.apache.spark.sql.execution.QueryExecution): String =
      (s"== Optimized Logical Plan ==\n${qe.optimizedPlan}\n" + qe.explainString(formatted))
        .replace(work.toUri.toString.stripSuffix("/"), "<work>").replace(work.toString, "<work>")
    @volatile var silverWrite = ""
    @volatile var goldWrite = ""
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        val optimized = qe.optimizedPlan.toString
        if (optimized.contains("silver_warehouse")) silverWrite = planText(qe)
        else if (optimized.contains("gold_warehouse")) goldWrite = planText(qe)
      }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    })
    (1 to days).foreach { d =>
      val date = java.time.LocalDate.of(2026, 1, 1).plusDays(d)
      landDay(bronze, date, rng)
      jobs.synchronized { jobs.clear(); stageToJob.clear() }
      val (c0, ms0) = (org.apache.spark.CodegenCache.compiles, org.apache.spark.CodegenCache.compileMillis)
      val w0 = System.currentTimeMillis()
      val (silver, gold) = BreweryPipeline.run(spark, conf, date)
      val wall = System.currentTimeMillis() - w0
      org.apache.spark.ListenerDrain(spark.sparkContext)
      val compiles = org.apache.spark.CodegenCache.compiles - c0
      val compileMs = org.apache.spark.CodegenCache.compileMillis - ms0
      val js = jobs.synchronized { jobs.toVector }
      println(f"DAILY run $d%2d $date wall_ms=$wall silver=$silver gold=$gold jobs=${js.size} " +
        f"tasks=${js.map(_.tasks).sum} compiles=$compiles compile_ms=$compileMs")
      js.foreach { j =>
        println(f"  JOB +${j.t0 - w0}%5d ms dur=${math.max(0L, j.t1 - j.t0)}%4d ms tasks=${j.tasks}%2d ${j.site}")
      }
    }
    planDir.foreach { dir =>
      val out = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      val gold = BreweryPipeline.goldQuery(spark, conf, java.time.LocalDate.of(2026, 1, 1).plusDays(days))
      Seq("silver_write.txt" -> silverWrite, "gold_write.txt" -> goldWrite,
        "gold_query.txt" -> planText(gold.queryExecution))
        .foreach { case (name, text) => java.nio.file.Files.write(out.resolve(name), text.getBytes("UTF-8")) }
    }
    spark.stop()
  }

  /** Collect a query's result and hash it in order, as perfbench's
    * `analytics_mix` consumes it: a `count()` would let the optimizer
    * drop the final ORDER BY and profile a different plan. Returns the
    * row count and an MD5 prefix of the rows' text. */
  private def consume(df: org.apache.spark.sql.DataFrame): String = {
    val rows = df.collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update(r.toString.getBytes("UTF-8")))
    s"${rows.length}/${md.digest().take(6).map("%02x".format(_)).mkString}"
  }

  private def corpus(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val passes = args.find(_.startsWith("passes=")).map(_.stripPrefix("passes=").toInt).getOrElse(1)
    val names = args.drop(1).filterNot(_.startsWith("passes="))
    val spark = graft.core.GraftSession.local("graft-profile")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()

    val jobs = mutable.ArrayBuffer.empty[J]
    val live = mutable.Map.empty[Int, J]
    val stageToJob = mutable.Map.empty[Int, J]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = recordExecution(e)
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val j = J(e.jobId, jobLabel(e), e.time)
        live(e.jobId) = j
        jobs += j
        e.stageIds.foreach(sid => stageToJob(sid) = j)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        live.get(e.jobId).foreach(_.t1 = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = jobs.synchronized {
        stageToJob.get(e.stageInfo.stageId).foreach { j =>
          j.taskTime += e.stageInfo.taskMetrics.executorRunTime
          j.tasks += e.stageInfo.numTasks
        }
      }
    }

    // planning-phase accounting: every tracked QueryExecution reports its
    // parsing/analysis/optimization/planning phase spans; summed per query
    // run they explain how much of the driver gap is plan-compile.
    val phaseTotals = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var nExec = 0
    val qel = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = phaseTotals.synchronized {
        nExec += 1
        qe.tracker.phases.foreach { case (ph, summary) =>
          phaseTotals(ph) += (summary.endTimeMs - summary.startTimeMs)
        }
      }
      override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }

    // poor man's async-profiler for the DRIVER: sample the main thread
    // every 10 ms, attribute each sample to its deepest graft.* frame
    // (falling back to the top spark/java frame), so the driver gap
    // decomposes into named code paths.
    val mainThread = Thread.currentThread()
    val samples = mutable.Map.empty[String, Int].withDefaultValue(0)
    @volatile var sampling = false
    val sampler = new Thread(() => {
      while (true) {
        if (sampling) {
          import scala.jdk.CollectionConverters._
          val all = Thread.getAllStackTraces.asScala
          all.foreach { case (t, st) =>
            val isMain = t eq mainThread
            // non-main threads only count when they're in graft code
            // (stream-execution / commit threads); main always counts
            val graftFrame = st.find { f =>
              f.getClassName.startsWith("graft.") &&
                !f.getClassName.contains("DriveProfile")
            }
            if (st.nonEmpty && (isMain || graftFrame.nonEmpty)) {
              val frame = graftFrame.orElse(st.headOption).map { f =>
                s"${f.getClassName.split('.').takeRight(2).mkString(".")}.${f.getMethodName}:${f.getLineNumber}"
              }.getOrElse("?")
              val inAction = st.exists(f => f.getClassName.contains("SparkPlan") ||
                f.getClassName.contains("DAGScheduler") || f.getMethodName == "awaitResult")
              val tag = if (isMain) (if (inAction) "JOB " else "DRV ") else "AUX "
              samples.synchronized { samples(s"$tag$frame") += 1 }
            }
          }
        }
        Thread.sleep(10)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    val byName = graft.queries.Corpus.all.map(q => q.name -> q).toMap
    names.foreach { n =>
      val q = byName.getOrElse(n, sys.error(s"unknown query $n"))
      consume(q.run(spark, sfDir)) // warm (plan-compile + JIT out of the profile)
      (1 to passes).foreach { p =>
        jobs.synchronized { jobs.clear(); live.clear(); stageToJob.clear() }
        phaseTotals.synchronized { phaseTotals.clear(); nExec = 0 }
        samples.synchronized { samples.clear() }
        spark.sparkContext.addSparkListener(listener)
        spark.listenerManager.register(qel)
        sampling = true
        val w0 = System.nanoTime()
        val hash = consume(q.run(spark, sfDir))
        val wall = (System.nanoTime() - w0) / 1e9
        sampling = false
        spark.sparkContext.removeSparkListener(listener)
        spark.listenerManager.unregister(qel)
        Thread.sleep(300) // let listener events drain
        val js = jobs.synchronized { jobs.toVector }
        val base = js.headOption.map(_.t0).getOrElse(0L)
        val jobWall = js.map(j => math.max(0L, j.t1 - j.t0)).sum / 1e3
        println(f"PROFILE $n pass$p wall=$wall%.3f njobs=${js.size} jobwall=$jobWall%.3f gap=${wall - jobWall}%.3f hash=$hash")
        phaseTotals.synchronized {
          val ph = phaseTotals.toSeq.sortBy(-_._2).map { case (k, v) => f"$k=${v / 1e3}%.3f" }.mkString(" ")
          println(f"  PHASES nexec=$nExec $ph")
        }
        samples.synchronized {
          val tot = samples.values.sum.max(1)
          samples.toSeq.sortBy(-_._2).take(30).foreach { case (f, c) =>
            println(f"  STK $c%4d (${c * 100.0 / tot}%5.1f%%) $f")
          }
        }
        // aggregate by call site
        val bySite = js.groupBy(_.site.replaceFirst("^sql#\\d+ ", "")).map { case (s, g) =>
          (s, g.size, g.map(j => math.max(0L, j.t1 - j.t0)).sum / 1e3,
            g.map(_.taskTime).sum / 1e3, g.map(_.tasks).sum)
        }.toSeq.sortBy(-_._3)
        bySite.take(30).foreach { case (s, cnt, wal, tt, nt) =>
          println(f"  SITE $s%-55s n=$cnt%3d wall=$wal%7.3f taskTime=$tt%8.3f tasks=$nt%5d")
        }
        // timeline of the 25 longest jobs
        js.sortBy(j => -(j.t1 - j.t0)).take(25).foreach { j =>
          println(f"  JOB ${j.id}%4d +${(j.t0 - base) / 1e3}%7.3f dur=${math.max(0L, j.t1 - j.t0) / 1e3}%7.3f tt=${j.taskTime / 1e3}%7.3f tasks=${j.tasks}%4d ${j.site}")
        }
      }
    }
    spark.stop()
  }
}
