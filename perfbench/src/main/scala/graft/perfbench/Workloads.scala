package graft.perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import graft.pipeline.{BreweryPipeline, PipelineConf}
import org.apache.spark.sql.{Row, SparkSession}

/** What a workload runs against: the session, a private work directory
  * and the URI prefix of that directory as the engine should see it
  * (`file:` untraced, the counting `cfs:` scheme traced). */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long, val traced: Boolean) {
  val uri: String = (if (traced) "cfs://" else "file://") + work.toAbsolutePath.toString
  val rng = new scala.util.Random(seed)
}

/** One operation: `exec` is timed, `check` is not and returns the reason
  * the answer is wrong, if it is. */
final case class Op(kind: String, exec: () => Any, check: Any => Option[String])

/** A line of the human-readable report: a metric the workload measured
  * beyond op latency. */
final case class Extra(name: String, value: Double, unit: String)

trait Workload {
  /** Inputs and tables; runs before the warm-up ops. */
  def setup(): Unit
  /** Untimed warm-up ops, at least one of each kind. */
  def warmups(): Seq[Op]
  def next(): Op
  /** Called once between the warm-up ops and the first timed op. */
  def startMeasuring(): Unit = ()
  /** Metrics beyond op latency, reported with tracing off. */
  def extras(): Seq[Extra] = Nil
}

object Workloads {
  val names: Seq[String] = Seq("medallion_daily", "analytics_mix")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "medallion_daily" => new Medallion(ctx)
    case "analytics_mix" => new Analytics(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${names.mkString(", ")})")
  }

  /** Bytes written through Hadoop FileSystems since JVM start. */
  def fsBytesWritten(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator.asScala
      .map(s => Option(s.getLong("bytesWritten")).fold(0L)(_.longValue)).sum
  }
}

// ---------------------------------------------------------------------------

/** One daily bronze→silver→gold run over a freshly landed day. */
final class Medallion(ctx: Ctx) extends Workload {
  import ctx.spark
  private val bronze = ctx.work.resolve("bronze")
  private val conf = PipelineConf(bronzeRoot = s"${ctx.uri}/bronze")
  private var day = LocalDate.of(2026, 1, 1).plusDays(ctx.rng.nextInt(3000))
  private var userBytes = 0L
  private var written = 0L

  def setup(): Unit = Files.createDirectories(bronze)

  /** The JIT keeps speeding the daily run up over its first ~10 runs;
    * six untimed ones leave the measured window on the flat part of
    * that curve. */
  def warmups(): Seq[Op] = Seq.fill(6)(next())

  def next(): Op = {
    day = day.plusDays(1)
    val landed = Data.landBreweryDay(bronze, day, ctx.rng)
    val d = landed.date
    Op("daily_run",
      exec = () => {
        val w0 = Workloads.fsBytesWritten()
        val out = if (Tracer.enabled) runTraced(d) else BreweryPipeline.run(spark, conf, d)
        written += Workloads.fsBytesWritten() - w0
        userBytes += landed.bytes
        out
      },
      check = r => check(landed, r.asInstanceOf[(Long, Long)]))
  }

  /** `BreweryPipeline.run` is `runSilver`, then `runGold` when silver
    * wrote rows; the traced run makes the same two calls itself so each
    * gets its own span. */
  private def runTraced(d: LocalDate): (Long, Long) = {
    val silverRows = Tracer.span("pipeline.silver") { BreweryPipeline.runSilver(spark, conf, d) }
    val goldRows =
      if (silverRows > 0) Tracer.span("pipeline.gold") { BreweryPipeline.runGold(spark, conf, d) } else 0L
    (silverRows, goldRows)
  }

  private def check(day: Data.BreweryDay, r: (Long, Long)): Option[String] = {
    val s = spark.sql(s"SELECT count(*), count(phone), count(longitude) FROM ${conf.silverTable} " +
      s"WHERE ${conf.partitionCol} = DATE'${day.date}'").head()
    val gold = spark.sql(s"SELECT brewery_type, country, qtd FROM ${conf.goldTable} " +
      s"WHERE ${conf.partitionCol} = DATE'${day.date}'").collect()
      .map(g => (g.getString(0), g.getString(1)) -> g.getLong(2)).toMap
    if (r._1 != day.records) Some(s"run returned ${r._1} silver rows, landed ${day.records}")
    else if (s.getLong(0) != day.records) Some(s"silver has ${s.getLong(0)} rows, landed ${day.records}")
    else if (day.records - s.getLong(1) != day.nullPhones)
      Some(s"silver null phones ${day.records - s.getLong(1)}, expected ${day.nullPhones}")
    else if (day.records - s.getLong(2) != day.nullLongitudes)
      Some(s"silver null longitudes ${day.records - s.getLong(2)}, expected ${day.nullLongitudes}")
    else if (gold != day.gold) Some(s"gold differs: ${gold.size} groups vs ${day.gold.size} expected")
    else if (r._2 != day.gold.size) Some(s"run returned ${r._2} gold rows, expected ${day.gold.size}")
    else None
  }

  override def startMeasuring(): Unit = { userBytes = 0L; written = 0L }

  override def extras(): Seq[Extra] =
    Seq(Extra("bytes_written_per_user_byte", written.toDouble / math.max(1L, userBytes), "ratio"))
}

// ---------------------------------------------------------------------------

/** The corpus's headline queries over generated read-only tables, in a
  * seeded order per pass; every result is collected and hashed. */
final class Analytics(ctx: Ctx) extends Workload {
  import ctx.spark
  private val dir = s"${ctx.uri}/fixtures"
  private val queries = graft.queries.Corpus.headlines
  private val answers = Answers.load()
  private var pass = Seq.empty[graft.queries.Q]

  def setup(): Unit = {
    Data.writeFixtures(spark, dir)
    val missing = queries.map(_.name).filterNot(answers.contains)
    require(missing.isEmpty, s"no pinned answer for ${missing.mkString(", ")}")
  }

  /** One untimed pass; each query's median is over the timed passes. */
  def warmups(): Seq[Op] = queries.map(op)

  def next(): Op = {
    if (pass.isEmpty) pass = ctx.rng.shuffle(queries)
    val q = pass.head
    pass = pass.tail
    op(q)
  }

  private def op(q: graft.queries.Q): Op =
    Op(q.name,
      exec = () => {
        val df = Tracer.span("queries.plan") { q.run(spark, dir) }
        Tracer.span("queries.execute") { (df.schema, df.collect()) }
      },
      check = r => {
        val (schema, rows) = r.asInstanceOf[(org.apache.spark.sql.types.StructType, Array[Row])]
        val got = Stats.resultHash(schema, rows.iterator)
        val want = answers(q.name)
        if (got == want) None else Some(s"${q.name}: got (rows, hash) $got, pinned $want")
      })
}

/** Answers pinned from the corpus's DuckDB oracle SQL over the
  * generated tables (`pin_answers.py`). */
object Answers {
  def load(): Map[String, (Long, String)] = {
    val in = getClass.getResourceAsStream("/perfbench/answers.json")
    require(in != null, "answers.json is not on the classpath")
    val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    """"([^"]+)":\s*\{\s*"rows":\s*(\d+),\s*"hash":\s*"([0-9a-f]+)"\s*\}""".r
      .findAllMatchIn(txt).map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
  }
}
