package graft.io

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Catalog-level atomic commits across MANY tables — the capability the
  * reference gets from its `nessie` catalog (a Nessie-style commit log:
  * `readme.md:93-114`; `airflow/dags/datalake_gold_spark_dag.py:181-186`
  * runs silver and gold under one catalog so a pipeline run lands as
  * one consistent state). Per-table WAP branches isolate ONE table's
  * staging; this log makes a MULTI-table publish atomic for readers: a
  * silver+gold pipeline publishes both tables in one commit, and a
  * reader resolving through the log observes either both advanced or
  * neither — never gold computed from unpublished silver.
  *
  * Two faces share this core and differ only in what a pin is:
  *  - [[LakeCommits]] pins [[SnapshotTables]] VERSIONS (keys
  *    `<tablesRoot>|<table>`);
  *  - [[IcebergLakeCommits]] pins Iceberg SNAPSHOT IDS of tables graft
  *    did not write (keys are qualified table dirs, so `/wh/db/t` and
  *    `file:/wh/db/t` govern the same table), staged on the foreign
  *    WAP surface and read through [[IcebergImport]].
  * [[PinCodec]] carries that difference; everything else lives here.
  *
  * Model (Nessie's, re-expressed on shared storage): the log is a line
  * of numbered commit files `commits/c%09d.json`, each a JSON object
  * with `commit`, `parent` and the FULL key→pin mapping under `tables`
  * (metadata-sized: one entry per table). Advancing the log is one
  * exclusive-create CAS on the next commit file — the identical
  * primitive ([[AtomicFs.createExclusive]]) every per-table commit
  * uses, so multi-writer semantics match: racing publishers get one
  * winner per slot, the loser rebases its updates onto the winner's
  * state and retries. Table data is committed by the normal per-table
  * machinery FIRST (those versions exist but are not yet visible
  * through the log), then the log flips visibility for all of them at
  * once — analogous to Nessie-over-Iceberg, where table metadata
  * advances first and the reference commit governs what a catalog
  * reader resolves.
  *
  * Readers: a face's `read` resolves a table's pin from the head
  * commit (a table not yet in the log falls back to its own head —
  * un-governed tables behave as before); `readAll` resolves one
  * consistent map ONCE for a whole multi-table query, which is the
  * both-or-neither guarantee; `readAt` time-travels the whole lake to
  * a historical commit. SQL faces: a `commitlog=<logRoot>` option on
  * [[graft.catalog.SnapshotCatalog]] or
  * [[graft.catalog.IcebergWarehouseCatalog]] makes every catalog read
  * resolve the log-pinned version; [[NessieServer]] serves the same
  * log over the Nessie-v2 wire for `uri=` mounts.
  *
  * Retention interplay: a pin held only by an old commit can be
  * physically retired by [[SnapshotTables.expire]] or
  * [[IcebergMaintenance.expireSnapshots]], exactly like Iceberg
  * snapshot expiry invalidating old Nessie refs. Size the per-table
  * retention to the log depth you intend to keep readable.
  *
  * Scale: every operation here is metadata-sized (one small file per
  * commit, N entries for N tables); no data moves or rewrites —
  * publish cost is independent of table size. */
abstract class CommitLog[P](spark: SparkSession, logRoot: String, private[io] val pin: PinCodec[P]) {

  import CommitLog._

  private val commitsDir = new Path(logRoot, "commits")
  protected def fs: FileSystem = commitsDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def commitPath(c: Int) = new Path(commitsDir, f"c$c%09d.json")

  /** All commits, ascending. */
  def log: Seq[Int] = {
    val f = fs
    if (!f.exists(commitsDir)) Nil
    else f.listStatus(commitsDir).toSeq.map(_.getPath.getName)
      .collect { case CommitFile(n) => n.toInt }.sorted
  }

  /** Newest committed log entry, 0 when the log is empty. */
  def headCommit: Int = log.lastOption.getOrElse(0)

  /** The key→pin mapping at commit `c` (default: head). Empty map for
    * an empty log. */
  def state(c: Int = headCommit): Map[String, P] =
    if (c == 0) Map.empty else parse(AtomicFs.readSmall(fs, commitPath(c)))

  /** The mapping at `c` if the log holds that commit; commit 0 (the
    * empty log's root) only while the log is still empty. */
  private[io] def find(c: Int): Option[Map[String, P]] =
    if (c == 0) Option.when(headCommit == 0)(Map.empty)
    else try Some(state(c)) catch { case _: java.io.FileNotFoundException => None }

  /** CAS-advance the log with `updates` merged over the head state,
    * retrying on lost races (rebase-and-retry, bounded, each retry after
    * a random pause of up to `BackoffMaxMs`). With
    * `expectedParent` the commit is ANCHORED: it lands as child of
    * exactly that commit or throws [[CommitLog.StaleParentCommit]] —
    * the wire's expectedHash contract, safe against direct file-CAS
    * writers racing between hash check and commit. Every pin is range
    * checked before any file is written. */
  private[io] def advance(updates: Map[String, P], expectedParent: Option[Int] = None): Int = {
    updates.values.foreach(pin.check)
    def landsOn(parent: Int): Boolean =
      AtomicFs.createExclusive(fs, commitPath(parent + 1),
        render(parent + 1, parent, state(parent) ++ updates))
    expectedParent match {
      case Some(p) =>
        if (landsOn(p)) p + 1 else throw StaleParentCommit(p, headCommit)
      case None =>
        // a lost slot re-reads the winner's head and rebases onto it,
        // after a random pause: a winner committing back to back starts
        // its next attempt at once, while the loser learns of its loss
        // only at the CAS, so without one the loser can lose every slot
        Iterator.range(0, MaxAttempts).map { attempt =>
          if (attempt > 0)
            Thread.sleep(java.util.concurrent.ThreadLocalRandom.current.nextLong(BackoffMaxMs + 1))
          headCommit
        }.find(landsOn).map(_ + 1).getOrElse(
          throw new IllegalStateException(
            s"lake commit lost $MaxAttempts consecutive CAS races — livelock or stuck publisher"))
    }
  }

  /** Retire log history: keep the newest `keep` commits, delete older
    * files. Each commit holds the FULL mapping (not a delta), so
    * deleting history never affects head resolution — only how far
    * back `readAt` can reach. The head itself is never deleted. */
  def expireLog(keep: Int): Unit = {
    require(keep >= 1, "must keep at least the head commit")
    val f = fs
    log.dropRight(keep).foreach(c => f.delete(commitPath(c), false))
  }

  private def render(commit: Int, parent: Int, tables: Map[String, P]): String = {
    val root = Json.mapper.createObjectNode().put("commit", commit).put("parent", parent)
    val t = root.putObject("tables")
    tables.toSeq.sortBy(_._1).foreach { case (k, v) => t.put(k, pin.toLong(v)) }
    Json.mapper.writeValueAsString(root)
  }

  private def parse(text: String): Map[String, P] =
    Json.reader.readTree(text).get("tables").properties.asScala
      .map(e => e.getKey -> pin.decode(e.getValue)).toMap
}

object CommitLog {

  /** An anchored (expectedParent) publish found a different head at
    * file-CAS time — the wire maps this to 409 CONFLICT. Carried as a
    * typed exception so the wire never confuses a genuine CAS loss with
    * an IO failure. */
  final case class StaleParentCommit(expected: Int, actual: Int)
    extends RuntimeException(
      s"commit expected parent c$expected but another writer advanced the log " +
        s"(head now c$actual) — stale expectedHash")

  private val MaxAttempts = 20
  /** Upper bound of the random pause before a rebased CAS attempt. */
  private val BackoffMaxMs = 25L
  private val CommitFile = """c(\d+)\.json""".r
}

/** What one commit log pins: the pin's JSON field on the wire and the
  * range a valid pin lies in. Decoding is strict — only an integral
  * JSON number inside the range passes, so `"abc"`, `1.9` or an
  * overflowing number can never be coerced into a durable pin. */
final class PinCodec[P] private (val field: String, min: Long, max: Long,
    ofLong: Long => P, val toLong: P => Long) {

  private def inRange(v: Long): Long = {
    require(min <= v && v <= max, s"$field $v is outside [$min, $max]")
    v
  }

  def check(p: P): Unit = inRange(toLong(p))

  def decode(n: JsonNode): P = {
    require(n != null && n.isIntegralNumber && n.canConvertToLong,
      s"$field must be an integral JSON number, got $n")
    ofLong(inRange(n.longValue))
  }
}

object PinCodec {
  /** A [[SnapshotTables]] version: committed versions start at 1. */
  val version = new PinCodec[Int]("version", 1, Int.MaxValue, _.toInt, _.toLong)
  /** An Iceberg snapshot id: any long. */
  val snapshotId = new PinCodec[Long]("snapshotId", Long.MinValue, Long.MaxValue, identity, identity)
}
