package graft.io

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{IntegerType, LongType, Metadata, StringType, StructType, TimestampType}

/** CHANGELOG (CDC) READ of a foreign Iceberg table — the range shapes
  * [[IcebergImport.appendsBetween]] refuses: per-snapshot
  * `_change_type` insert/delete ROWS across `overwrite` and `delete`
  * snapshots, per Iceberg's public changelog-scan design (the
  * `create_changelog_view` procedure / `IncrementalChangelogScan`).
  * The reference's consumers read tables that are overwritten daily
  * (`/root/reference/spark/jobs/job_silver.py:174-178` overwrites
  * silver every run; `job_gold.py:71-88` consumes it the next
  * morning) — an append-only incremental face dies on day one of real
  * DML; this face keeps going and says exactly what changed.
  *
  * Semantics, per range snapshot (oldest first):
  *  - `append` → its added rows as `insert`;
  *  - `replace` (compaction) → NOTHING (layout changed, no rows did);
  *  - `delete`/`overwrite` → row-level diff vs the parent snapshot:
  *      - rows of data files REMOVED by the snapshot (read under the
  *        PARENT's delete state — rows already MOR-deleted before this
  *        snapshot do not re-die) as `delete`;
  *      - rows of SURVIVING files newly masked by delete files this
  *        snapshot added (position or equality) as `delete`;
  *      - rows of data files ADDED by the snapshot (under ITS delete
  *        state) as `insert`.
  *    A copy-on-write overwrite that rewrites surviving rows into new
  *    files therefore emits them as delete+insert pairs — exactly what
  *    Iceberg's own changelog emits for COW (use MOR DML for quiet
  *    changelogs; net-change folding is the consumer's multiset fold).
  *
  * Output schema = the table's CURRENT columns (mixed-vintage files
  * resolve by field id, same as [[IcebergImport.read]]) plus Iceberg's
  * changelog metadata columns:
  *   `_change_type` STRING        — 'insert' | 'delete'
  *   `_change_ordinal` INT        — the commit's ordinal in the range
  *   `_commit_snapshot_id` LONG
  *   `_commit_timestamp` TS
  *
  * Scale shape: classification is O(metadata) — snapshot JSON +
  * manifest diffs give the removed/added/surviving FILE sets without
  * touching data. Data reads are pruned to exactly the files a change
  * could live in: removed files, added files, and — for the
  * newly-masked diff — the files REFERENCED by the snapshot's new
  * position-delete files (the bridge's own DML shape); only an
  * equality delete widens that slice to all surviving files (its
  * targets are only known by predicate). The masked diff is one
  * (file,pos) left-anti join per DML snapshot, distributed, never
  * driver-side. ORC data files have no row positions (parquet-only
  * `_metadata.row_index`), so a DML diff touching ORC rows refuses
  * loudly — same rule as position-delete DML itself. */
object IcebergChanges {

  val ChangeTypeCol = "_change_type"
  val ChangeOrdinalCol = "_change_ordinal"
  val CommitSnapshotCol = "_commit_snapshot_id"
  val CommitTimestampCol = "_commit_timestamp"

  /** One range snapshot's classification: id, commit time, operation,
    * parent (None = lineage root), and the snapshot's SEQUENCE NUMBER
    * — the retention-stable commit order (expiry trims history but
    * never renumbers sequences; lineage ordinals shift down when the
    * chain's front is trimmed). The STREAMING face stamps
    * `_change_ordinal` from it for exactly that reason. */
  private[graft] final case class ChangeStep(snapshotId: Long, timestampMs: Long,
      operation: String, parent: Option[Long], sequence: Option[Long])

  /** `to`'s ancestors back to (exclusive) `from`, oldest first — the
    * range [[IcebergImport.appendsBetween]] walks, but op-agnostic:
    * every operation is legal here, classification happens at emit
    * time. A snapshot without a `sequence-number` (v1 tables, the
    * pre-upgrade history of v1→v2 tables) gets None, not 0: a 0 default
    * would collapse every such snapshot to the same ordinal downstream
    * (the streaming changelog dedups by it). */
  private[graft] def changeSteps(spark: SparkSession, tableDir: String,
      fromSnapshot: Option[Long], toSnapshot: Option[Long]): Seq[ChangeStep] =
    IcebergImport.meta(spark, tableDir).range(fromSnapshot, toSnapshot).map(s =>
      ChangeStep(s.id, s.timestampMs, s.operation.getOrElse("unknown"), s.parent, s.sequence))

  /** The table's current columns with field-id metadata STRIPPED (the
    * emitted rows are engine rows, not Iceberg data files — see the
    * same rule on the appends feed). */
  private[graft] def dataSchema(spark: SparkSession, tableDir: String): StructType =
    StructType(IcebergImport.tableSchema(spark, tableDir).fields
      .map(_.copy(metadata = Metadata.empty)))

  private[graft] def feedSchema(data: StructType): StructType =
    StructType(data.fields)
      .add(ChangeTypeCol, StringType, nullable = false)
      .add(ChangeOrdinalCol, IntegerType, nullable = false)
      .add(CommitSnapshotCol, LongType, nullable = false)
      .add(CommitTimestampCol, TimestampType, nullable = true)

  private def qcol(c: String) = col("`" + c.replace("`", "``") + "`")

  /** Stamp one slice with the changelog metadata columns, projecting
    * onto the table's current columns (lineage helpers dropped,
    * field-id metadata stripped). */
  private def stamped(df: DataFrame, cols: Seq[String], changeType: String,
      ordinal: Int, st: ChangeStep): DataFrame =
    df.select(cols.map(c => qcol(c).as(c, Metadata.empty)): _*)
      .withColumn(ChangeTypeCol, lit(changeType))
      .withColumn(ChangeOrdinalCol, lit(ordinal))
      .withColumn(CommitSnapshotCol, lit(st.snapshotId))
      .withColumn(CommitTimestampCol,
        (if (st.timestampMs > 0) lit(new java.sql.Timestamp(st.timestampMs))
         else lit(null)).cast(TimestampType))

  /** The change rows ONE snapshot contributes, stamped with `ordinal`
    * — shared by the batch range ([[changesBetween]]) and the
    * streaming source (which stamps LINEAGE ordinals so restarts keep
    * stable numbering). */
  private[graft] def stepFrame(spark: SparkSession, tableDir: String,
      st: ChangeStep, ordinal: Int): Option[DataFrame] = {
    val cols = dataSchema(spark, tableDir).fields.map(_.name).toSeq
    st.operation match {
      case "replace" => None // compaction: layout changed, rows did not
      case "append" =>
        Some(insertsOf(spark, tableDir, st, cols, ordinal))
      case "overwrite" if st.parent.isEmpty =>
        // the lineage root (every export starts with one): rewrote
        // nothing — exactly an initial append
        Some(insertsOf(spark, tableDir, st, cols, ordinal))
      case "overwrite" | "delete" =>
        Some(dmlDiff(spark, tableDir, st, cols, ordinal))
      case other => throw new IllegalArgumentException(
        s"changelog read over $tableDir cannot classify snapshot ${st.snapshotId} " +
          s"(operation=$other) — not one of the spec's operations")
    }
  }

  private def insertsOf(spark: SparkSession, tableDir: String, st: ChangeStep,
      cols: Seq[String], ordinal: Int): DataFrame = {
    val frames = IcebergImport.appendStepFrames(spark, tableDir, st.parent, Some(st.snapshotId))
    require(frames.length == 1, s"snapshot ${st.snapshotId}: expected one append step, " +
      s"got ${frames.length}")
    stamped(frames.head._2, cols, "insert", ordinal, st)
  }

  /** The row-level diff an `overwrite`/`delete` snapshot commits,
    * pruned at the METADATA level before any data is read (see the
    * module doc's scale shape). */
  private def dmlDiff(spark: SparkSession, tableDir: String, st: ChangeStep,
      cols: Seq[String], ordinal: Int): DataFrame = {
    val p = st.parent.getOrElse(throw new IllegalStateException(
      s"DML snapshot ${st.snapshotId} with no parent"))
    val prevFiles = IcebergImport.dataFiles(spark, tableDir, Some(p)).toSet
    val curFiles = IcebergImport.dataFiles(spark, tableDir, Some(st.snapshotId)).toSet
    val removed = prevFiles -- curFiles
    val added = curFiles -- prevFiles
    val surviving = prevFiles.intersect(curFiles)

    val parts = Seq.newBuilder[DataFrame]
    if (removed.nonEmpty)
      parts += stamped(
        IcebergImport.readWithLineage(spark, tableDir, Some(p), Some(removed.contains _)),
        cols, "delete", ordinal, st)
    // rows of surviving files newly masked by delete files this
    // snapshot added: diff (file,pos) between the parent's and this
    // snapshot's view of the DELETE-TOUCHED slice. When every new
    // delete file is a position delete, the slice prunes to exactly
    // the files those deletes reference; an equality delete's targets
    // are only known by predicate, so it widens the slice to all
    // surviving files.
    val prevDeletes = IcebergImport.deleteFiles(spark, tableDir, Some(p)).toSet
    val newDeleteInfo = IcebergImport.deleteFileInfo(spark, tableDir, Some(st.snapshotId))
      .filter { case (_, path, _) => !prevDeletes.contains(path) }
    val newDeletes = newDeleteInfo.map(_._2).toSet
    if (newDeletes.nonEmpty && surviving.nonEmpty) {
      // position deletes name their targets: parquet pos-delete files
      // carry a file_path column (one tiny read), v3 deletion vectors
      // carry referenced_data_file in the manifest itself (free).
      // Only an equality delete hides its targets behind a predicate
      // and widens the slice to all surviving files.
      val positionOnly = newDeleteInfo.forall(_._1 == 1)
      val scope: String => Boolean =
        if (positionOnly) {
          val posParquet = newDeleteInfo.collect { case (1, path, None) => path }
          val fromParquet: Set[String] =
            if (posParquet.isEmpty) Set.empty
            else spark.read.parquet(posParquet.toIndexedSeq: _*)
              .select(col("file_path").cast("string")).distinct()
              .collect().map(_.getString(0)).toSet // touched FILES — metadata-sized
          val fromDv: Set[String] = newDeleteInfo.collect { case (1, _, Some((ref, _, _))) => ref }.toSet
          val referenced = fromParquet ++ fromDv
          val keep = surviving.filter(f => IcebergImport.spellings(f).exists(referenced.contains))
          keep.contains _
        } else surviving.contains _
      val fileC = IcebergImport.LineageFileCol
      val posC = IcebergImport.LineagePosCol
      val prevSlice = IcebergImport.readWithLineage(spark, tableDir, Some(p), Some(scope))
      val curSlice = IcebergImport
        .readWithLineage(spark, tableDir, Some(st.snapshotId), Some(scope))
        .select(col(fileC), col(posC))
      parts += stamped(prevSlice.join(curSlice, Seq(fileC, posC), "left_anti"),
        cols, "delete", ordinal, st)
    }
    if (added.nonEmpty)
      parts += stamped(
        IcebergImport.readWithLineage(spark, tableDir, Some(st.snapshotId),
          Some(added.contains _)),
        cols, "insert", ordinal, st)
    parts.result().reduceOption(_ unionByName _)
      .getOrElse(emptyFeed(spark, tableDir))
  }

  private[graft] def emptyFeed(spark: SparkSession, tableDir: String): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](),
      feedSchema(dataSchema(spark, tableDir)))

  /** Change rows committed strictly after `fromSnapshot` up to
    * (inclusive) `toSnapshot` (None = the current head).
    * `fromSnapshot=None` starts at the lineage root. `_change_ordinal`
    * is the snapshot's 0-based position in the REQUESTED range. */
  def changesBetween(spark: SparkSession, tableDir: String,
      fromSnapshot: Option[Long], toSnapshot: Option[Long] = None): DataFrame = {
    val steps = changeSteps(spark, tableDir, fromSnapshot, toSnapshot)
    steps.zipWithIndex
      .flatMap { case (st, i) => stepFrame(spark, tableDir, st, i) }
      .reduceOption(_ unionByName _)
      .getOrElse(emptyFeed(spark, tableDir))
  }

  /** Change rows committed strictly AFTER `millis` (the `TIMESTAMP AS
    * OF` clock) — the wall-clock face, like
    * [[IcebergImport.appendsSince]]. */
  def changesSince(spark: SparkSession, tableDir: String, millis: Long,
      toSnapshot: Option[Long] = None): DataFrame =
    changesBetween(spark, tableDir,
      IcebergImport.snapshotAtTimestamp(spark, tableDir, millis), toSnapshot)
}
