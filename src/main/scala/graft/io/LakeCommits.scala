package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The [[CommitLog]] over [[SnapshotTables]]: pins are table VERSIONS,
  * keyed `<tablesRoot>|<table>`. */
final class LakeCommits(spark: SparkSession, logRoot: String)
    extends CommitLog[Int](spark, logRoot, PinCodec.version) {

  import LakeCommits.key

  /** ONE atomic commit pinning each listed table at its CURRENT
    * per-table version — call after landing the per-table commits.
    * Tables already in the log but absent from `tables` carry their
    * previously pinned versions forward. On a lost CAS race the
    * publisher re-reads the winner's state, re-merges, and retries —
    * both racers' updates land, in two adjacent commits. Returns the
    * new commit number. */
  def publish(tables: Seq[(SnapshotTables, String)]): Int =
    advance(tables.map { case (st, t) =>
      val v = st.currentVersion(t)
      require(v > 0, s"table ${st.rootPath}/$t has no committed version to publish")
      key(st, t) -> v
    }.toMap)

  /** Pin EXACT versions in one commit — the publish-through hook for a
    * log-governed catalog ([[graft.catalog.SnapshotCatalog]] with a
    * `commitlog`): a writer publishes the precise version it just
    * committed, not whatever is current at publish time, so two
    * writers' publishes cannot mis-pin each other's versions. With
    * `expectedParent` the commit lands as child of exactly that commit
    * or throws [[CommitLog.StaleParentCommit]]. */
  def publishExact(updates: Seq[(SnapshotTables, String, Int)],
      expectedParent: Option[Int] = None): Int =
    advance(updates.map { case (st, t, v) => key(st, t) -> v }.toMap, expectedParent)

  /** The version the head commit pins for `table`, if governed. */
  def pinnedVersion(st: SnapshotTables, table: String): Option[Int] =
    state().get(key(st, table))

  /** The catalog-level WAP flow: per-table branches staged the audited
    * content; this publishes EVERY branch to its main line (normal
    * [[SnapshotTables.publish]] fast-forwards — data becomes real main
    * versions but log readers still resolve the old mapping), then
    * flips the log once. If a per-table publish fails (concurrent main
    * commit since the fork), NO log commit happens — already-fast-
    * forwarded tables are visible only to readers that bypass the log,
    * the documented trade of reading a table directly instead of
    * through the catalog. Returns the new commit number. */
  def publishBranches(staged: Seq[(SnapshotTables, String, String)]): Int =
    advance(staged.map { case (st, t, branch) => key(st, t) -> st.publish(t, branch) }.toMap)

  /** Resolve `table` through the log: the version the head commit
    * pins, or the table's current version when the log does not govern
    * it (yet). */
  def read(st: SnapshotTables, table: String): DataFrame = readIn(state(), st, table)

  /** Whole-lake time travel: resolve through the mapping of commit `c`. */
  def readAt(c: Int, st: SnapshotTables, table: String): DataFrame = readIn(state(c), st, table)

  /** Resolve MANY tables from ONE head state — the both-or-neither
    * read. Returned in input order. */
  def readAll(tables: Seq[(SnapshotTables, String)]): Seq[DataFrame] = {
    val s = state()
    tables.map { case (st, t) => readIn(s, st, t) }
  }

  private def readIn(s: Map[String, Int], st: SnapshotTables, table: String): DataFrame =
    s.get(key(st, table)).fold(st.read(table))(st.readVersion(table, _))
}

object LakeCommits {
  private[io] def key(st: SnapshotTables, table: String): String = s"${st.rootPath}|$table"
}

/** The [[NessieServer]] wire over a [[LakeCommits]] log: content keys
  * are table names of `tables`, pins are `version`s. */
final class LakeHttpServer(lake: LakeCommits, tables: SnapshotTables, port: Int = 0)
  extends NessieServer[Int](lake, LakeCommits.key(tables, _),
    k => k.substring(k.lastIndexOf('|') + 1), port)

/** The [[NessieClient]] for a [[LakeHttpServer]]. */
final class RemoteLake(baseUrl: String) extends NessieClient[Int](baseUrl, PinCodec.version) {

  /** The version pinned for `table`, at head or at a reference hash. */
  def pinnedVersion(table: String, hash: Option[String] = None): Option[Int] = pinOf(table, hash)

  /** Read `table` through the catalog: resolve the pinned version over
    * the wire, read the data from shared storage — Nessie's division
    * of labor. Pass the same `hash` across tables for both-or-neither. */
  def read(st: SnapshotTables, table: String, hash: Option[String] = None): DataFrame = {
    val v = pinnedVersion(table, hash).getOrElse(
      throw new IllegalArgumentException(s"table '$table' is not governed at $baseUrl"))
    st.readVersion(table, v)
  }
}
