package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Spans around the benchmark's calls into each layer. Off by default:
  * `span` then only runs its body. */
object Tracer {
  final case class Span(id: Int, parent: Int, name: String, op: Long, startNs: Long, endNs: Long)

  @volatile var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 1
  private var op = 0L

  def beginOp(id: Long): Unit = op = id

  // spans are timed with nanoTime; Spark's listener events carry epoch ms
  private val nanoAt0 = System.nanoTime()
  private val msAt0 = System.currentTimeMillis()
  def epochMs(ns: Long): Double = msAt0 + (ns - nanoAt0) / 1e6

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.pop()
        spans += Span(id, parent, name, op, t0, System.nanoTime())
      }
    }

  /** Self time of each span: its duration minus the union of its
    * children's intervals. */
  def selfTimes(of: Seq[Span]): Map[Int, Long] = {
    val kids = of.groupBy(_.parent)
    of.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))
      s.id -> ((s.endNs - s.startNs) - covered)
    }.toMap
  }

  /** Total length of the union of `[start, end)` intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","op":${s.op},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** A local FileSystem under the `cfs` scheme that counts calls, for the
  * traced run only (registered with `fs.cfs.impl`). Opens are classed by
  * location: a file under a table's `metadata/` dir (version JSON,
  * pointer, manifests, refs, table properties) is metadata; everything
  * else (the workload's input files, table data files) is data. A
  * metadata open of a file unchanged since its last open counts as a
  * re-open. */
class CountingFileSystem extends RawLocalFileSystem {
  import CountingFileSystem._

  override def getScheme: String = "cfs"
  override def getUri: java.net.URI = java.net.URI.create("cfs:///")

  // RawLocalFileSystem's lazily-permissioned status does
  // `new File(path.toUri)`, which refuses any scheme but file:
  private def strip(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getPath)

  override def getFileStatus(f: Path): FileStatus = strip(super.getFileStatus(f))

  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet()
    super.listStatus(f).map(strip)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (!isMetadata(f.toUri.getPath)) openData.incrementAndGet()
    else {
      openMeta.incrementAndGet()
      val st = try super.getFileStatus(f) catch { case _: java.io.FileNotFoundException => null }
      if (st != null) {
        val stamp = (st.getLen, st.getModificationTime)
        val prev = lastOpen.put(f.toUri.getPath, stamp)
        if (prev == stamp) reopenMeta.incrementAndGet()
      }
    }
    super.open(f, bufferSize)
  }

  // every create variant of the local FileSystem opens its stream here
  override protected def createOutputStreamWithMode(f: Path, append: Boolean,
      permission: org.apache.hadoop.fs.permission.FsPermission): java.io.OutputStream = {
    creates.incrementAndGet()
    super.createOutputStreamWithMode(f, append, permission)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    renames.incrementAndGet()
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    deletes.incrementAndGet()
    super.delete(p, recursive)
  }
}

object CountingFileSystem {
  val lists, openMeta, openData, reopenMeta, creates, renames, deletes = new AtomicLong
  private val lastOpen = new ConcurrentHashMap[String, (Long, Long)]()

  def isMetadata(path: String): Boolean = path.contains("/metadata/")

  def snapshot(): Map[String, Long] = Map(
    "io.fs_list" -> lists.get, "io.fs_open_metadata" -> openMeta.get,
    "io.fs_open_data" -> openData.get, "io.fs_reopen_metadata" -> reopenMeta.get,
    "io.fs_create" -> creates.get,
    "io.fs_rename" -> renames.get, "io.fs_delete" -> deletes.get)
}

/** Per-op counters from Spark's public listener APIs. The benchmark is
  * one closed-loop client, so after draining the bus every event since
  * the last `take()` belongs to the op that just ended. */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  private val jobStart = mutable.Map.empty[Int, Long]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    c("spark.scheduler.jobs") += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => intervals += ((t0, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c("spark.scheduler.tasks") += 1
    val m = e.taskMetrics
    if (m != null) {
      c("spark.executor.cpu_s") += m.executorCpuTime / 1e9
      c("spark.executor.run_s") += m.executorRunTime / 1e3
      c("spark.executor.gc_s") += m.jvmGCTime / 1e3
      c("spark.executor.input_bytes") += m.inputMetrics.bytesRead
      c("spark.executor.shuffle_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("spark.executor.spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) =>
      val key = phase match {
        case "parsing" => "plans.parse_ms"
        case "analysis" => "plans.analyze_ms"
        case "optimization" => "plans.optimize_ms"
        case "planning" => "plans.physical_plan_ms"
        case other => s"plans.${other}_ms"
      }
      c(key) += (s.endTimeMs - s.startTimeMs).toDouble
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Counters and job intervals (epoch ms) since the last call. */
  def take(): (Map[String, Double], Seq[(Long, Long)]) = synchronized {
    val out = (c.toMap, intervals.toVector)
    c.clear()
    intervals.clear()
    out
  }
}
