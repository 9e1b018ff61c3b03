package graft.io

import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Jar-free MAINTENANCE for FOREIGN Iceberg v2 tables — the operations
  * a table accumulates debt without (the reference's deployment runs
  * them through the Iceberg runtime; here they're built from the
  * public spec, completing the bridge's operate-without-jars story):
  *
  *  - [[compact]] — `rewrite_data_files` + delete-file fold in one
  *    REPLACE snapshot: the current content (row-level deletes
  *    APPLIED) is rewritten as fresh id-carrying parquet and committed
  *    as a snapshot that references ONLY the new files — streaming
  *    append debris and MOR delete files stop being read everywhere
  *    from this snapshot on, while every prior snapshot stays
  *    time-travelable. The replace-shaped manifest list is built
  *    BEFORE the commit and published as ONE metadata version
  *    ([[IcebergMetadata.commit]]): no reader polling version-hint can
  *    ever observe an intermediate append-shaped head (doubled rows),
  *    and a crash mid-compact leaves the table exactly at its prior
  *    version plus unreferenced debris — never a doubled head.
  *  - [[expireSnapshots]] — `expire_snapshots`: retire all but the
  *    last N snapshots from the metadata (the current one always
  *    survives), then inventory every file under the table that NO
  *    retained snapshot references — metadata versions, manifest
  *    lists, manifests, data and delete files. The orphan list is
  *    RETURNED; deletion only happens under `removeOrphans = true`
  *    (inventory is free to audit, deletion is irreversible). Every
  *    manifest-list/manifest/file path is resolved through the SAME
  *    table-relative rule scan planning uses ([[IcebergImport
  *    .resolve]]) — a foreign table whose manifests carry relative
  *    paths keeps its live files out of the orphan list.
  *
  * Both commit through [[IcebergMetadata.commit]] like
  * [[IcebergAppend]] — racing writers conflict loudly, never
  * lost-write.
  */
object IcebergMaintenance {

  /** Rewrite the table's CURRENT content (deletes applied) into fresh
    * files and commit a REPLACE snapshot referencing only them — one
    * atomic metadata version. Returns the new snapshot id.
    * `targetFiles` bounds the output file count (`coalesce` —
    * compaction must never explode files). */
  def compact(spark: SparkSession, tableDir: String, targetFiles: Int = 4): Long = {
    require(targetFiles >= 1, s"targetFiles must be >= 1, got $targetFiles")
    val current = IcebergImport.read(spark, tableDir)
    // IcebergAppend's shared pieces own conformance, field ids, footer
    // stats and the manifest/list/metadata wiring; replace semantics =
    // the same commit with carryPrevious=false, so the new snapshot's
    // list references ONLY the rewritten manifest and the fold is one
    // atomic version-file create
    val lt = IcebergAppend.load(spark, tableDir)
    val m = IcebergAppend.writeDataManifest(spark, lt, current.coalesce(targetFiles))
    IcebergAppend.commitSnapshot(spark, lt, Seq(m), operation = "replace",
      carryPrevious = false)
  }

  /** Retire all but the newest `keepLast` snapshots (the current one
    * always survives) in one new metadata version, and return the
    * ORPHANS: every file under the table no retained snapshot (nor the
    * live metadata chain) references. With `removeOrphans = true` the
    * orphans are also deleted. */
  def expireSnapshots(spark: SparkSession, tableDir: String, keepLast: Int,
      removeOrphans: Boolean = false): Seq[String] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val tm = IcebergImport.meta(spark, tableDir)
    val (fs, md) = (tm.fs, tm.json)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    require(tm.formatVersion == 2 || tm.formatVersion == 3,
      s"expireSnapshots needs a v2/v3 table, got ${tm.formatVersion}")
    val byTime = tm.snapshots.sortBy(s => (s.timestampMs, s.id))
    // every ref-pointed snapshot survives expiry (a tag is a promise)
    val refIds = tm.refs.values.map(_.snapshotId).toSet
    val keep = (byTime.takeRight(keepLast) ++
      byTime.filter(s => tm.current.contains(s.id) || refIds.contains(s.id))).distinct
    val keepIds = keep.map(_.id).toSet

    // ---- the retained reference set ---------------------------------
    // every path resolves table-relative FIRST (IcebergImport.resolve —
    // the same rule scan planning applies), THEN qualifies: raw
    // relative spellings must never qualify against the process
    // working directory, or live files of a relative-path table would
    // be missed here and deleted as orphans below
    def norm(p: String): Set[String] = {
      val r = IcebergImport.resolve(tableDir, p)
      val q = fs.makeQualified(r).toString
      Set(p, r.toString, q, q.stripPrefix("file:"))
    }
    val referenced = scala.collection.mutable.Set.empty[String]
    keep.foreach { s =>
      s.manifestList.foreach(referenced ++= norm(_))
      tm.manifests(s).foreach { m =>
        referenced ++= norm(m.path)
        tm.entries(m).entries.foreach(e => referenced ++= norm(e.file.path))
      }
    }

    // ---- the expired metadata version --------------------------------
    val newSnaps = om.createArrayNode()
    keep.sortBy(_.id).foreach { s =>
      val c = s.json.deepCopy[ObjectNode]()
      // a parent that did not survive expiry must not dangle
      if (s.parent.exists(p => !keepIds.contains(p))) c.remove("parent-snapshot-id")
      newSnaps.add(c)
    }
    md.set("snapshots", newSnaps)
    if (md.hasNonNull("snapshot-log")) {
      val slog = md.get("snapshot-log").asInstanceOf[ArrayNode]
      val filtered = om.createArrayNode()
      (0 until slog.size).map(slog.get)
        .filter(e => keepIds.contains(e.get("snapshot-id").asLong))
        .foreach(filtered.add)
      md.set("snapshot-log", filtered)
    }
    val newMdPath = IcebergMetadata.commit(fs, tm.path, md)
    referenced ++= norm(newMdPath.toString)
    referenced ++= norm(new Path(newMdPath.getParent, "version-hint.text").toString)

    // ---- orphan inventory under the table root -----------------------
    // metadata versions: the new one survives; older ones are part of
    // the metadata LOG lineage — Iceberg's expire keeps them subject to
    // a separate policy, so only snapshot-DATA orphans are listed here
    // plus manifest lists/manifests no retained snapshot references.
    val orphans = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(dir: Path): Unit = fs.listStatus(dir).foreach { st =>
      if (st.isDirectory) walk(st.getPath)
      else {
        val p = fs.makeQualified(st.getPath).toString
        val name = st.getPath.getName
        val isMeta = name.endsWith(".metadata.json") || name == "version-hint.text" ||
          name.endsWith(".text.crc") || name.startsWith(".")
        if (!isMeta && !referenced.contains(p) && !referenced.contains(p.stripPrefix("file:")))
          orphans += p
      }
    }
    walk(new Path(tableDir))
    if (removeOrphans) orphans.foreach(p => fs.delete(new Path(p), false))
    orphans.toSeq.sorted
  }
}
