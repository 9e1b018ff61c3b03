package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The [[CommitLog]] over FOREIGN Iceberg tables: pins are SNAPSHOT
  * IDS, keyed by the qualified table dir; staging is the foreign WAP
  * surface ([[IcebergEvolve]] branches) and reads resolve through
  * [[IcebergImport]]. Explicit `VERSION AS OF` on a governed
  * [[graft.catalog.IcebergWarehouseCatalog]] mount still wins over the
  * pin (an explicit pin is a stronger ask). */
final class IcebergLakeCommits(spark: SparkSession, logRoot: String)
    extends CommitLog[Long](spark, logRoot, PinCodec.snapshotId) {

  /** The canonical key of a table dir — qualified, so `/wh/dw/t` and
    * `file:/wh/dw/t` govern the same table. */
  private[io] def key(tableDir: String): String = fs.makeQualified(new Path(tableDir)).toString

  /** ONE atomic commit pinning each table at its CURRENT head snapshot
    * — call after landing the per-table commits. Tables already in the
    * log but absent here carry their pins forward. Returns the new
    * commit number. */
  def publish(tableDirs: Seq[String]): Int =
    advance(tableDirs.map(d => key(d) -> IcebergLakeCommits.headSnapshot(spark, d)).toMap)

  /** Pin EXACT snapshot ids in one commit — the publish-through hook so
    * two writers' publishes cannot mis-pin each other's heads. With
    * `expectedParent` the commit lands as child of exactly that commit
    * or throws [[CommitLog.StaleParentCommit]]. */
  def publishExact(updates: Seq[(String, Long)], expectedParent: Option[Int] = None): Int =
    advance(updates.map { case (d, s) => key(d) -> s }.toMap, expectedParent)

  /** The catalog-level WAP flow: every staged branch fast-forwards to
    * main (each snapshot becomes the table head but log readers still
    * resolve the old mapping), then ONE log commit flips all the pins.
    * The published snapshot id is resolved from the branch BEFORE the
    * fast-forward, so the log pins exactly what was audited. A
    * fast-forward refusal (main diverged since the fork) aborts with
    * NO log commit. */
  def publishBranches(staged: Seq[(String, String)]): Int =
    advance(staged.map { case (dir, branch) =>
      val refs = IcebergImport.refs(spark, dir)
      val (snap, tpe) = refs.getOrElse(branch, throw new IllegalArgumentException(
        s"no ref '$branch' on $dir — have: ${refs.keys.toSeq.sorted.mkString(", ")}"))
      require(tpe == "branch", s"ref '$branch' on $dir is a $tpe — stage on a branch")
      IcebergEvolve.fastForward(spark, dir, branch)
      key(dir) -> snap
    }.toMap)

  /** The snapshot the head commit pins for `tableDir`, if governed. */
  def pinnedSnapshot(tableDir: String): Option[Long] = state().get(key(tableDir))

  /** The snapshot commit `c` pins for `tableDir` (key-normalized). */
  def pinnedSnapshotAt(c: Int, tableDir: String): Option[Long] = state(c).get(key(tableDir))

  /** Resolve `tableDir` through the log: the pinned snapshot, or the
    * table head when the log does not govern it (yet). */
  def read(tableDir: String): DataFrame = IcebergImport.read(spark, tableDir, pinnedSnapshot(tableDir))

  /** Whole-lake time travel to commit `c`. */
  def readAt(c: Int, tableDir: String): DataFrame =
    IcebergImport.read(spark, tableDir, pinnedSnapshotAt(c, tableDir))

  /** Resolve MANY tables from ONE head state — the both-or-neither read. */
  def readAll(tableDirs: Seq[String]): Seq[DataFrame] = {
    val s = state()
    tableDirs.map(d => IcebergImport.read(spark, d, s.get(key(d))))
  }
}

object IcebergLakeCommits {
  private[io] def headSnapshot(spark: SparkSession, tableDir: String): Long =
    IcebergImport.currentSnapshot(spark, tableDir).getOrElse(
      throw new IllegalArgumentException(s"table $tableDir has no committed snapshot to publish"))
}

/** The [[NessieServer]] wire over an [[IcebergLakeCommits]] log — the
  * URI mount (`spark.sql.catalog.<n>.uri=<url>` on
  * [[graft.catalog.IcebergWarehouseCatalog]]): content keys are table
  * dirs, normalized server-side to the log's qualified spelling; pins
  * are `snapshotId`s. */
final class IcebergLakeHttpServer(lake: IcebergLakeCommits, port: Int = 0)
  extends NessieServer[Long](lake, lake.key, identity, port)

/** The [[NessieClient]] for an [[IcebergLakeHttpServer]]. */
final class RemoteIcebergLake(baseUrl: String)
    extends NessieClient[Long](baseUrl, PinCodec.snapshotId) {

  /** The snapshot id pinned for `tableDir`, at head or at a hash. */
  def pinnedSnapshot(tableDir: String, hash: Option[String] = None): Option[Long] =
    pinOf(tableDir, hash)

  /** Publish each table at its CURRENT head snapshot — the wire twin
    * of [[IcebergLakeCommits.publish]]. */
  def publish(spark: SparkSession, tableDirs: Seq[String]): String =
    commit(tableDirs.map(d => d -> IcebergLakeCommits.headSnapshot(spark, d)))
}
