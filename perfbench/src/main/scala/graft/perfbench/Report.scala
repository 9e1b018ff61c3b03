package graft.perfbench

import scala.collection.mutable

/** Per-layer numbers gathered from the traced ops of one run. */
final class LayerAccumulator {
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val counts = mutable.Map.empty[String, Int].withDefaultValue(0)
  private var fs0 = Map.empty[String, Long]

  def fsBefore(): Unit = fs0 = CountingFileSystem.snapshot()

  /** Add one observation of `name`; its reported value is the mean. */
  def note(name: String, v: Double): Unit = { sums(name) += v; counts(name) += 1 }

  def mean(name: String): Double = if (counts(name) == 0) 0.0 else sums(name) / counts(name)

  def add(op: Op, opId: Long, wall: Double, startMs: Long, endMs: Long,
      probe: (Map[String, Double], Seq[(Long, Long)])): Unit = {
    val (c, jobs) = probe
    val jobS = Tracer.union(jobs.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }) / 1e3
    note("spark.scheduler.driver_gap_s", math.max(0.0, wall - jobS))
    Seq("spark.scheduler.jobs", "spark.scheduler.tasks", "spark.executor.cpu_s",
      "spark.executor.run_s", "spark.executor.gc_s", "spark.executor.input_bytes",
      "spark.executor.shuffle_bytes", "spark.executor.spill_bytes",
      "plans.parse_ms", "plans.analyze_ms", "plans.optimize_ms", "plans.physical_plan_ms")
      .foreach(k => note(k, c.getOrElse(k, 0.0)))
    note(s"queries.${op.kind}.cpu_s", c.getOrElse("spark.executor.cpu_s", 0.0))
    val fs1 = CountingFileSystem.snapshot()
    fs1.foreach { case (k, v) => note(k, (v - fs0.getOrElse(k, 0L)).toDouble) }
    sums("io.metadata_opens") += fs1("io.fs_open_metadata") - fs0("io.fs_open_metadata")
    sums("io.metadata_reopens") += fs1("io.fs_reopen_metadata") - fs0("io.fs_reopen_metadata")
    // spans of this op: per-layer self time, the layer being the span
    // name's first segment
    val mine = Tracer.spans.filter(_.op == opId).toSeq
    val self = Tracer.selfTimes(mine)
    val byLayer = mine.groupBy(_.name.split('.').head)
    Report.spanLayers.foreach { l =>
      note(s"self.${l}_s", byLayer.getOrElse(l, Nil).map(s => self(s.id)).sum / 1e9)
    }
    mine.filterNot(_.name.startsWith("op.")).foreach(s => note(s"${s.name}_s", (s.endNs - s.startNs) / 1e9))
    // a pipeline step's writes end in a driver-side catalog commit
    // (rename, version metadata, pointer): the step's time after the
    // last Spark job that started inside it
    val steps = mine.filter(s => Report.writeSteps(s.name))
    if (steps.nonEmpty) note("io.commit_driver_s", steps.map { s =>
      val (a, b) = (Tracer.epochMs(s.startNs), Tracer.epochMs(s.endNs))
      val lastJobEnd = jobs.filter { case (j0, _) => j0 >= a - 1 && j0 <= b }.map(_._2.toDouble)
      (b - lastJobEnd.foldLeft(a)(math.max)) / 1e3
    }.sum)
  }

  def reopenRatio: Double =
    if (sums("io.metadata_opens") == 0) 0.0 else sums("io.metadata_reopens") / sums("io.metadata_opens")
}

/** The human-readable report lines and the metric sets of the last line. */
final class Report(workload: String, seed: Long, seconds: Double, traced: Boolean, cores: Int) {
  import Report._

  println(s"perfbench workload=$workload seed=$seed seconds=$seconds trace=${if (traced) 1 else 0} " +
    s"cores=$cores client=closed-loop(1)")

  def line(s: String): Unit = println(s)

  private def show(name: String, v: Double, unit: String, note: String = ""): Unit =
    println(f"metric $name%-32s ${num(v)}%-22s $unit%-6s $note")

  private def notMeasured(name: String, why: String): Unit =
    println(f"metric $name%-32s not measured ($why)")

  /** Median per kind, then the geometric mean over kinds, so the mix of
    * kinds a seed draws does not move the figure. */
  private def p50(xs: Seq[Main.Sample]): Double =
    Stats.geomean(xs.groupBy(_.kind).values.map(g => Stats.median(g.map(_.seconds))).toSeq)

  /** `p50` times the tail of each execution's ratio to its kind's median. */
  private def tail(xs: Seq[Main.Sample]): Option[(Int, Double)] = {
    val med = xs.groupBy(_.kind).map { case (k, g) => k -> Stats.median(g.map(_.seconds)) }
    Stats.tail(xs.map(s => s.seconds / med(s.kind))).map { case (p, r) => p -> r * p50(xs) }
  }

  private def latency(prefix: String, xs: Seq[Main.Sample]): Seq[(String, Double, String)] =
    if (xs.isEmpty) { notMeasured(s"${prefix}_p50_s", "no samples"); Nil }
    else {
      val m = p50(xs)
      show(s"${prefix}_p50_s", m, "s", s"n=${xs.size} kinds=${xs.map(_.kind).distinct.size}")
      tail(xs) match {
        case Some((p, v)) => show(s"${prefix}_tail_s", v, "s", s"p$p n=${xs.size}")
        case None => notMeasured(s"${prefix}_tail_s", s"n=${xs.size} < 11")
      }
      Seq((s"${prefix}_p50_s", m, "s"))
    }

  /** End-to-end metrics. The last line carries `setup_s` and
    * `latency_p50_s`, the two every workload has; the others print here. */
  def endToEnd(setupS: Double, xs: Seq[Main.Sample], extras: Seq[Extra]): Seq[(String, Double, String)] = {
    show("setup_s", setupS, "s", "process start to first timed op")
    val lat = latency("latency", xs)
    extras.foreach(e => show(e.name, e.value, e.unit))
    Seq(("setup_s", setupS, "s")) ++ lat
  }

  /** Per-layer metrics from the traced ops, as means per op unless the
    * name says otherwise; 0 where the workload never enters the layer. */
  def perLayer(sessionStart: Double, xs: Seq[Main.Sample], l: LayerAccumulator): Seq[(String, Double, String)] = {
    val tracedXs = xs.filter(_.traced)
    val plainXs = xs.filterNot(_.traced)
    val both = tracedXs.map(_.kind).distinct.filter(k => plainXs.exists(_.kind == k)).toSet
    val overhead =
      if (both.isEmpty) { notMeasured("trace.overhead_ratio", "no kind ran both traced and untraced"); 0.0 }
      else p50(tracedXs.filter(s => both(s.kind))) / p50(plainXs.filter(s => both(s.kind)))
    def m(name: String, unit: String) = (name, l.mean(name), unit)
    val fixed: Seq[(String, Double, String)] =
      Seq(("core.session_start_s", sessionStart, "s"),
        m("pipeline.silver_s", "s"), m("pipeline.gold_s", "s"),
        m("queries.plan_s", "s"), m("queries.execute_s", "s"),
        m("plans.parse_ms", "ms"), m("plans.analyze_ms", "ms"), m("plans.optimize_ms", "ms"),
        m("plans.physical_plan_ms", "ms"),
        m("io.commit_driver_s", "s"), m("io.fs_list", "count"), m("io.fs_open_metadata", "count"),
        m("io.fs_open_data", "count"), m("io.fs_create", "count"), m("io.fs_rename", "count"),
        m("io.fs_delete", "count"), ("io.metadata_reopen_ratio", l.reopenRatio, "ratio"),
        m("spark.scheduler.jobs", "count"), m("spark.scheduler.tasks", "count"),
        m("spark.scheduler.driver_gap_s", "s"),
        m("spark.executor.cpu_s", "s"), m("spark.executor.run_s", "s"), m("spark.executor.gc_s", "s"),
        m("spark.executor.input_bytes", "bytes"), m("spark.executor.shuffle_bytes", "bytes"),
        m("spark.executor.spill_bytes", "bytes"),
        m("self.op_s", "s"), m("self.pipeline_s", "s"), m("self.queries_s", "s")) ++
        graft.queries.Corpus.headlines.map(_.name).flatMap { q =>
          val mine = xs.filter(_.kind == q).map(_.seconds)
          Seq((s"queries.$q.p50_s", if (mine.isEmpty) 0.0 else Stats.median(mine), "s"),
            m(s"queries.$q.cpu_s", "s"))
        } ++
        Seq(("trace.overhead_ratio", overhead, "ratio"))
    fixed.foreach { case (k, v, u) => show(k, v, u) }
    fixed
  }

  /** Every timed sample, by kind. */
  def samples(xs: Seq[Main.Sample]): Unit =
    xs.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, g) =>
      println(s"samples $k n=${g.size} s=" + g.map(s => num(s.seconds) + (if (s.traced) "*" else ""))
        .mkString("[", ",", "]"))
    }
}

object Report {
  /** Layers spans are named after (the span name's first segment). */
  val spanLayers = Seq("op", "pipeline", "queries")
  /** Spans of pipeline steps that end in a catalog commit. */
  val writeSteps = Set("pipeline.silver", "pipeline.gold")

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
}
