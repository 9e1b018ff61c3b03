package graft.io

import graft.SparkSpec
import graft.catalog.IcebergWarehouseCatalog

/** Readers that follow the table's MAIN history never see a
  * write-audit-publish branch commit: such a commit enters `snapshots`
  * but not `snapshot-log` or `current-snapshot-id`. Pins:
  *
  *  - `TIMESTAMP AS OF` resolves on main's `snapshot-log` (Iceberg's
  *    rule), so a later branch commit never answers it — through the
  *    SQL mount and [[IcebergImport.snapshotAtTimestamp]];
  *  - [[IcebergImport.appendsSince]] from a time after a branch commit
  *    reads main's later append, instead of refusing the branch
  *    snapshot as "not an ancestor";
  *  - [[RemoteIcebergRest.publishHead]] sends only the directory's
  *    main-lineage snapshots; the catalog never learns the branch's. */
class IcebergMainLineageSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-icemain-$tag").toString

  /** `<wh>/db/tab` exported with ids `ids`; returns (wh, tableDir). */
  private def exported(tag: String, ids: Seq[Long]): (String, String) = {
    val wh = tmp(tag)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(wh, "db"))
    val st = new SnapshotTables(spark, tmp(s"$tag-snap"))
    st.overwriteTable(ids.map(i => (i, s"v$i")).toDF("id", "v"), "tab")
    IcebergExport.export(st, "tab", s"$wh/db/tab")
    (wh, s"$wh/db/tab")
  }

  private def append(dir: String, id: Long, branch: String = "main"): Long = {
    Thread.sleep(5) // distinct commit timestamps
    IcebergAppend.append(spark, dir, Seq((id, s"v$id")).toDF("id", "v"), branch = branch)
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("id").as[Long].collect().toSeq.sorted

  private def committedAt(dir: String, snap: Long): Long =
    IcebergImport.snapshotsRelation(spark, dir).where(s"snapshot_id = $snap")
      .select("timestamp_ms").as[Long].head()

  test("TIMESTAMP AS OF after a later branch commit reads main, not the branch") {
    val (wh, dir) = exported("tsaof", Seq(1L))
    IcebergEvolve.createBranch(spark, dir, "audit")
    val mainSnap = append(dir, 2L)
    val branchSnap = append(dir, 3L, branch = "audit")
    assert(committedAt(dir, branchSnap) > committedAt(dir, mainSnap))

    val later = System.currentTimeMillis() + 5 * 60 * 1000L
    assert(IcebergImport.snapshotAtTimestamp(spark, dir, later).contains(mainSnap))
    spark.conf.set("spark.sql.catalog.icemain", classOf[IcebergWarehouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.icemain.warehouse", wh)
    val ts = java.time.LocalDateTime.ofInstant(java.time.Instant.ofEpochMilli(later),
      java.time.ZoneOffset.UTC).toString.replace('T', ' ')
    assert(ids(spark.sql(s"SELECT id FROM icemain.db.tab TIMESTAMP AS OF '$ts'")) == Seq(1L, 2L))

    // from just before the main commit: only main's append
    assert(ids(IcebergImport.appendsSince(spark, dir, committedAt(dir, mainSnap) - 1)) == Seq(2L))
  }

  test("appendsSince from after a branch commit reads main's later append") {
    val (_, dir) = exported("since", Seq(1L))
    IcebergEvolve.createBranch(spark, dir, "audit")
    val branchSnap = append(dir, 2L, branch = "audit")
    val mainSnap = append(dir, 3L)
    val between = committedAt(dir, branchSnap)
    assert(between < committedAt(dir, mainSnap))
    assert(ids(IcebergImport.appendsSince(spark, dir, between)) == Seq(3L))
    assert(ids(IcebergChanges.changesSince(spark, dir, between)) == Seq(3L))
  }

  test("publishHead sends main's lineage only: the catalog never lists a branch snapshot") {
    val (wh, dir) = exported("pub", Seq(1L))
    val srv = new IcebergRestHttpServer(spark, wh).start()
    try {
      val r = new RemoteIcebergRest(srv.url)
      val pin0 = r.pinnedSnapshot("db", "tab").get
      IcebergEvolve.createBranch(spark, dir, "side")
      val branchSnap = append(dir, 2L, branch = "side")
      val mainSnap = append(dir, 3L)
      r.publishHead(spark, "db", "tab", dir)
      assert(r.pinnedSnapshot("db", "tab").contains(mainSnap))
      val (_, md) = r.loadTable("db", "tab").get
      val snaps = md.get("snapshots")
      val listed = (0 until snaps.size).map(snaps.get(_).get("snapshot-id").asLong).toSet
      assert(listed == Set(pin0, mainSnap), s"catalog snapshots $listed")
      assert(!listed.contains(branchSnap))
    } finally srv.stop()
  }
}
