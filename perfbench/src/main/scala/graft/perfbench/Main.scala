package graft.perfbench

import java.nio.file.{Files, Paths}

import graft.core.GraftSession

import scala.collection.mutable

/** One benchmark run: one workload, one seed, one closed-loop client.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --out <dir> [--t0-ms <epoch ms of launch>] [--cores <n>]
  * }}}
  *
  * Prints a human-readable report and, as its last line, one JSON
  * object: the end-to-end metrics with `--trace 0`, the per-layer ones
  * with `--trace 1`. */
object Main {

  final case class Sample(kind: String, seconds: Double, traced: Boolean)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workloadName = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val work = Paths.get(need("work")).toAbsolutePath
    val out = Paths.get(need("out")).toAbsolutePath
    val t0Ms = opt.get("t0-ms").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val cores = opt.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    Files.createDirectories(work)
    Files.createDirectories(out)

    val s0 = System.nanoTime()
    val spark = GraftSession.builder("perfbench", cores)
      .master(s"local[$cores]")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", (if (traced) "cfs://" else "file://") + work.resolve("warehouse"))
      .config("spark.hadoop.fs.cfs.impl", classOf[CountingFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStart = (System.nanoTime() - s0) / 1e9

    val probe = new SparkProbe
    if (traced) {
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe)
    }
    val ctx = new Ctx(spark, work, seed, traced)
    val w = Workloads(workloadName, ctx)

    val failures = mutable.ArrayBuffer.empty[String]
    /** Evaluates `timed` (which runs `op`) and checks the answer; false,
      * with the reason noted in `failures`, when it threw or was wrong. */
    def attempt(op: Op, timed: => Any): Boolean = {
      val why =
        try op.check(timed)
        catch { case e: Exception => Some(s"${op.kind} threw ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300)) }
      why.foreach(failures += _)
      why.isEmpty
    }

    val phases = mutable.ArrayBuffer("session" -> sessionStart)
    def phase(name: String)(body: => Unit): Unit = {
      val t = System.nanoTime(); body; phases += name -> (System.nanoTime() - t) / 1e9
    }
    phase("inputs") { w.setup() }
    phase("warm-up") { w.warmups().foreach(op => attempt(op, op.exec())) }
    val warmupFailures = failures.size
    w.startMeasuring()
    val setupS = (System.currentTimeMillis() - t0Ms) / 1e3

    // ---- the closed loop: the next op is sent when the previous returns
    val samples = mutable.ArrayBuffer.empty[Sample]
    val layer = new LayerAccumulator
    val perKindCount = mutable.Map.empty[String, Int].withDefaultValue(0)
    var attempted = 0
    var opId = 0L
    val loopStart = System.nanoTime()
    val deadline = loopStart + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline) {
      val op = w.next()
      opId += 1
      // the traced run traces executions 1, 4, 5, 8, 9, ... of each kind
      // (ABBA), so the untraced ones between them price the tracing
      // itself without a warming JVM's trend favouring either side
      val traceThis = traced && Set(0, 3)(perKindCount(op.kind) % 4)
      perKindCount(op.kind) += 1
      if (traced) { drain(spark); probe.take(); layer.fsBefore() }
      Tracer.enabled = traceThis
      Tracer.beginOp(opId)
      val startMs = System.currentTimeMillis()
      var execS = 0.0
      val ok = attempt(op, {
        val t = System.nanoTime()
        try Tracer.span(s"op.${op.kind}") { op.exec() }
        finally {
          execS = (System.nanoTime() - t) / 1e9
          Tracer.enabled = false
          if (traceThis) { drain(spark); layer.add(op, opId, execS, startMs, System.currentTimeMillis(), probe.take()) }
        }
      })
      attempted += 1
      if (ok) samples += Sample(op.kind, execS, traceThis)
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9

    // ---- report
    val report = new Report(workloadName, seed, seconds, traced, cores)
    report.line("set-up phases: " + phases.map { case (k, v) => f"$k=$v%.2fs" }.mkString(" "))
    report.line(s"warm-up ops failed: $warmupFailures")
    report.line(f"timed loop: $attempted ops in $loopS%.2fs, ${samples.map(_.seconds).sum}%.2fs of it timed " +
      "(the rest is untimed: landing each op's input, checking its answer)")
    failures.take(20).foreach(f => report.line(s"FAILED: $f"))
    val failed = failures.size - warmupFailures
    val correct = failures.isEmpty && samples.nonEmpty
    val e2e = report.endToEnd(setupS, samples.toSeq, w.extras())
    val metrics: Seq[(String, Double, String)] =
      if (!traced) e2e
      else {
        if (Tracer.spans.nonEmpty) Tracer.writeJsonLines(out.resolve(s"$workloadName-seed$seed-spans.jsonl"))
        report.perLayer(sessionStart, samples.toSeq, layer)
      }
    report.samples(samples.toSeq)
    spark.stop()
    val json = metrics.map { case (k, v, u) => s""""$k":{"value":${Report.num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$json}""")
    System.out.flush()
    sys.exit(0)
  }

  private def drain(spark: org.apache.spark.sql.SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
