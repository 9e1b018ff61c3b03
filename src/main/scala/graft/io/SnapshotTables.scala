package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Versioned-snapshot tables on plain parquet — the Iceberg write
  * semantics the reference relies on (overwrite commits a new table
  * version; old metadata versions are retained up to a cap:
  * `write.metadata.delete-after-commit.enabled` +
  * `write.metadata.previous-versions-max=10`,
  * spark/jobs/job_silver.py:174-178), reproduced with nothing but the
  * Hadoop FileSystem API so it runs on local FS or S3A alike.
  *
  * Layout per table:
  * {{{
  *   <root>/<table>/data/<writerUUID>/      parquet data of one commit
  *   <root>/<table>/metadata/v<NNNNN>.json  version meta (records data_dir)
  *   <root>/<table>/metadata/current        pointer file (version number)
  * }}}
  *
  * ONE COMMIT LAYOUT, Iceberg's write-once-files design on this format:
  * a commit writes its data files ONCE, into their final location in
  * the table's pool (`<table>/data/<writerUUID>/`), and then claims the
  * version by an EXCLUSIVE create of its metadata file, which records
  * that dir (`"data_dir"`, its name in the pool — see
  * [[SnapshotTables.VersionMeta]]). The won create **is the entire
  * commit**: no data byte ever moves, which matters on S3-family
  * object stores, where a rename is a server-side copy. Data precedes
  * the claim, so a complete meta is a complete commit. Readers that
  * resolved the pointer before a commit keep reading the old version
  * (snapshot isolation). Retention deletes versions older than
  * `previousVersionsMax` behind the current one after the commit, so
  * no reader holding the old pointer within the retention window ever
  * loses its files — the contract Iceberg's metadata retention gives
  * the reference. publish, fold and rollback never move a data byte
  * either: publish adopts the branch commit's pool dir by reference
  * (branch commits write into the MAIN table's pool precisely so the
  * reference survives `dropBranch`).
  *
  * Concurrency (multi-writer safe): the exclusive create is atomic on
  * HDFS (namenode-side) and on local filesystems (a full temp file
  * claimed with POSIX link(2), see [[AtomicFs.createExclusive]]). Two
  * writers racing for v+1 cannot both win: the loser deletes its pool
  * dir and gets a [[SnapshotTables.ConcurrentCommitException]]; it
  * retries on top of the winner's commit. The pointer file is a
  * monotonic-advance cache of the newest commit; [[currentVersion]]
  * takes max(pointer, newest committed meta), so a stale or missing
  * pointer never masks a commit. A create-then-write filesystem can
  * leave a crashed claim's meta empty or torn: that is not a commit,
  * and later writers reclaim it after `orphanGraceMs` (see
  * [[casWithOrphanReclaim]]) so a crash cannot wedge the table.
  * Caveat: on S3A, exclusive create remains check-then-create; real
  * S3 multi-writer needs a conditional-PUT or DynamoDB-style log
  * store, the Iceberg/Delta swap-in seam of SURVEY §7.
  *
  * Tables written before the pool layout keep their data in
  * `snapshots/v<NNNNN>/` and metas without `data_dir`: such a version
  * resolves to that dir for reads, time travel, chains and expiry, so
  * they read unchanged and take new commits on top.
  *
  * Garbage collection is REACHABILITY-based, as in Iceberg: a pool dir
  * referenced by no retained meta (main or branch) is debris — CAS
  * losers delete their own dirs eagerly; hard-crashed writers' dirs
  * wait for [[removeOrphans]], Iceberg's own `remove_orphan_files`
  * contract.
  */
final class SnapshotTables(
    spark: SparkSession,
    root: String,
    private val previousVersionsMax: Int = 10,
    orphanGraceMs: Long = 60000L,
    heartbeatMs: Long = 15000L,
    private[io] val sketchBits: Int = 1 << 17,
    private[io] val sketchHashes: Int = 4,
    // branch instances write their data into the PARENT table's pool
    // (see the class doc's publish-by-reference design)
    dataPoolRoot: Option[String] = None
) extends TableFormat with SnapshotReads with SnapshotManifests {

  // the membership test reads at most 8 hash positions per value
  // (SnapshotManifests.bloomHitMem); a larger sketchHashes would silently
  // test only the first 8, degrading the configured false-positive rate
  // with no error.
  require(sketchHashes >= 1 && sketchHashes <= 8,
    s"sketchHashes must be in [1, 8], got $sketchHashes")

  import SnapshotTables.{Prop, PropChange, Props, RefFile, Retention, SketchCols,
    SortOrder, StatsCols, Transforms, VersionMeta, WriteMode}
  import SnapshotReads.ChainDir.rowsOf

  private[io] def fs(p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tableDir(table: String) = new Path(root, table)
  private[io] def metaDir(table: String) = new Path(tableDir(table), "metadata")
  private def snapDir(table: String, v: Int) =
    new Path(tableDir(table), f"snapshots/v$v%05d")
  private def pointer(table: String) = new Path(metaDir(table), "current")

  /** Write-once data pool: `<table>/data/`, one subdir per commit
    * attempt. Branch instances override it with the
    * PARENT table's pool so a published branch commit's dir survives
    * `dropBranch` (see the class doc). */
  private def dataPoolDir(table: String): Path =
    dataPoolRoot.map(new Path(_)).getOrElse(new Path(tableDir(table), "data"))

  /** Standing property `p` of `table` as its sidecar file holds it;
    * None when the file is absent. A file that does not parse throws an
    * IllegalStateException naming it. */
  private def prop[T](table: String, p: Prop[T]): Option[T] = {
    val f = new Path(metaDir(table), p.file)
    if (!fs(f).exists(f)) None
    else try Some(p.parse(readSmallFile(f)))
    catch { case e: IllegalArgumentException =>
      throw new IllegalStateException(s"unreadable table property file $f: ${e.getMessage}", e) }
  }

  /** Replace `p`'s sidecar file with `v` rendered, or delete it when `v`
    * is None or renders empty (an empty column list is no list). */
  private def setProp[T](table: String, p: Prop[T], v: Option[T]): Unit = {
    val f = new Path(metaDir(table), p.file)
    v.map(p.render).filter(_.nonEmpty) match {
      case Some(text) => replaceSmallFile(f, text)
      case None => if (fs(f).exists(f)) fs(f).delete(f, false)
    }
  }

  /** `p`'s value on `table`: its file's, else the list's default. */
  private def setting[T](table: String, p: Prop[T]): Option[T] =
    prop(table, p).orElse(p.default(this))

  /** Set (or with None clear) `p` after validating `v`: it re-parses and
    * every column it names is a column of the table. An invalid value
    * raises with no on-disk side effect. Properties are metadata-only:
    * each applies from the next commit on. */
  private def setValid[T](table: String, p: Prop[T], v: Option[T]): Unit =
    setProp(table, p, v.map(x => p.valid(p.render(x), tableColumns(table))))

  /** Write property changes already validated by
    * [[SnapshotTables.propChanges]]. */
  private[graft] def setProps(table: String, changes: Seq[PropChange[_]]): Unit =
    changes.foreach { case c: PropChange[t] => setProp(table, c.p, c.value) }

  /** The properties among `ps` that `table` has a file for, as changes
    * that set them on another table (see [[setProps]]). */
  private def propsOf(ps: Seq[Prop[_]], table: String): Seq[PropChange[_]] =
    ps.flatMap { case p: Prop[t] => prop(table, p).map(v => PropChange(p, Some(v))) }

  /** The graft TBLPROPERTIES SHOW TBLPROPERTIES lists: every keyed
    * property whose value (the file's, else its default) renders
    * non-empty. */
  private[graft] def tableProperties(table: String): Seq[(String, String)] = {
    def shown[T](p: Prop[T]) = setting(table, p).map(p.render).filter(_.nonEmpty)
    Props.flatMap(p => p.key.flatMap(k => shown(p).map(k -> _)))
  }

  private def tableColumns(table: String): Seq[String] =
    if (currentVersion(table) > 0) read(table).columns.toSeq
    else declaredSchema(table).map(_.fieldNames.toSeq).getOrElse(Nil)

  private def metaPath(table: String, v: Int) = new Path(metaDir(table), f"v$v%05d.json")

  /** Version `v`'s commit metadata ([[SnapshotTables.VersionMeta]]);
    * None when its file is absent (never written, or expired since it
    * was listed). A meta that exists but does not parse throws an
    * IOException naming the file. */
  private[io] def readMeta(table: String, v: Int): Option[VersionMeta] = {
    val m = metaPath(table, v)
    try if (fs(m).exists(m)) Some(parseMetaAt(m, v)) else None
    catch { case _: java.io.FileNotFoundException => None }
  }

  private def parseMetaAt(m: Path, v: Int): VersionMeta =
    try VersionMeta.parse(v, readSmallFile(m))
    catch {
      case e: com.fasterxml.jackson.core.JsonProcessingException =>
        throw new java.io.IOException(s"$m does not parse as version metadata (torn or corrupt)", e)
    }

  /** A version's data directory: the commit metadata's recorded
    * write-once pool dir, or `snapshots/v<NNNNN>` for a meta without
    * one (a table written before the pool layout). EVERY data read,
    * byte count and delete resolves through here — the version meta is
    * authoritative, never the directory convention. */
  private def dataDirOf(table: String, v: Int): Path =
    readMeta(table, v).fold(snapDir(table, v))(dataDirOfMeta(table, _))

  private[io] def dataDirOfMeta(table: String, m: SnapshotTables.VersionMeta): Path =
    m.dataDir.fold(snapDir(table, m.v))(SnapshotTables.inPool(dataPoolDir(table), _))

  private def writeSmallFile(p: Path, content: String): Unit = {
    val f = fs(p)
    val out = f.create(p, true)
    try out.write(content.getBytes("UTF-8"))
    finally out.close()
  }

  /** Overwrite a small metadata file WITHOUT a torn-read window: write
    * to a unique sibling temp, then move it over the destination. On
    * the local FS the move is POSIX-atomic (ATOMIC_MOVE); elsewhere it
    * degrades to delete+rename — a reader can then briefly see the
    * file absent (and fall back to its documented no-file behavior)
    * but can never see half the content. */
  private def replaceSmallFile(p: Path, content: String): Unit =
    AtomicFs.replaceSmall(fs(p), p, content)

  /** Exclusive create — the commit CAS ([[AtomicFs.createExclusive]]:
    * POSIX link(2) locally, create(overwrite=false) on cluster
    * filesystems). Returns false ONLY when `p` already exists (another
    * writer won the version); other I/O failures propagate. */
  private def createExclusive(p: Path, content: String): Boolean =
    AtomicFs.createExclusive(fs(p), p, content)

  /** The commit CAS with FENCED recovery of crashed claims. A writer
    * that crashed between the exclusive create of `next`'s meta and its
    * write (possible on create-then-write filesystems such as HDFS)
    * leaves an empty or torn meta — without recovery, every future
    * commit targets the same `next`, loses the CAS, and the table
    * wedges permanently. When the lost CAS turns out to be against a
    * meta that is not a commit ([[isCommit]]) and is older than
    * `orphanGraceMs` (its writer may still be writing it), the meta is
    * deleted and the CAS retried once.
    *
    * Fencing: a reclaimer re-reads the meta IMMEDIATELY before deleting
    * it — if the content no longer matches what was statted as orphaned
    * (another reclaimer already swept it and re-won with its own meta),
    * the reclaim is abandoned instead of deleting the new winner's
    * commit record. A commit is never reclaimed: its meta is complete
    * the moment it is claimed. */
  private def casWithOrphanReclaim(table: String, next: Int, meta: Path, metaJson: String): Boolean =
    createExclusive(meta, metaJson) || {
      val f = fs(meta)
      val orphanContent =
        if (f.exists(meta) &&
          (System.currentTimeMillis - f.getFileStatus(meta).getModificationTime) >= orphanGraceMs)
          try Some(readSmallFile(meta)) catch { case _: java.io.IOException => None }
        else None
      orphanContent.exists { statted =>
        // re-read right before the delete: if the meta changed hands
        // since we statted it, another reclaimer re-won — back off.
        def still = try f.exists(meta) && readSmallFile(meta) == statted
                    catch { case _: java.io.IOException => false }
        !isCommit(table, next, statted) && still &&
          { f.delete(meta, false); createExclusive(meta, metaJson) }
      }
    }

  /** Whether `text`, the meta of version `v` above the pointer, is a
    * commit: it parses, and the data it names exists — a `data_dir`
    * (written before the meta was claimed), or for a meta without one
    * (a table written before the pool layout) its `snapshots/v<NNNNN>`
    * dir. An empty or torn meta is a claim whose write never finished.
    * [[history]] and the reclaim in [[casWithOrphanReclaim]] share this
    * one rule. */
  private def isCommit(table: String, v: Int, text: String): Boolean =
    try {
      val m = VersionMeta.parse(v, text)
      m.dataDir.isDefined || fs(snapDir(table, v)).exists(snapDir(table, v))
    } catch { case _: com.fasterxml.jackson.core.JsonProcessingException => false }

  private def readSmallFile(p: Path): String = AtomicFs.readSmall(fs(p), p)

  /** The pointer cache's version, 0 when it is absent or unreadable. */
  private def pointerVersion(table: String): Int = {
    val p = pointer(table)
    if (fs(p).exists(p))
      try readSmallFile(p).toInt
      catch { case _: NumberFormatException => 0 }
    else 0
  }

  /** Current committed version, 0 when the table does not exist yet:
    * the max of the pointer cache and the newest committed meta, so a
    * stale pointer (a crash between the claim and the pointer advance,
    * or interleaved multi-writer pointer writes) never masks a commit. */
  def currentVersion(table: String): Int = {
    val ptr = pointerVersion(table)
    math.max(ptr, committedVersions(table, ptr).lastOption.getOrElse(0))
  }

  /** All retained versions, ascending. */
  def history(table: String): Seq[Int] = committedVersions(table, pointerVersion(table))

  /** The versions whose metas are listed under `metadata/` and are
    * commits. A version at or below the pointer `ptr` is one without
    * parsing its meta: the pointer only ever names a won commit, and no
    * writer can claim version N+1 while N is not a commit (every writer
    * targets current + 1, which stays N until N is a commit or is
    * reclaimed), so every version below a commit is one too. Only the
    * metas above the pointer — commits whose pointer advance has not
    * landed yet, or claims torn by a crash — are parsed ([[isCommit]]). */
  private def committedVersions(table: String, ptr: Int): Seq[Int] = {
    val md = metaDir(table)
    val mf = fs(md)
    if (!mf.exists(md)) Nil
    else
      mf.listStatus(md).toSeq
        .map(_.getPath.getName)
        .collect {
          case n if n.startsWith("v") && n.endsWith(".json") &&
              n.stripPrefix("v").stripSuffix(".json").forall(_.isDigit) =>
            n.stripPrefix("v").stripSuffix(".json").toInt
        }
        .filter(v => v <= ptr ||
          (try isCommit(table, v, readSmallFile(metaPath(table, v)))
           catch { case _: java.io.FileNotFoundException => false }))
        .sorted
  }

  /** Commit `df` as the next version of `table`.
    *
    * @throws SnapshotTables.ConcurrentCommitException when another
    *         writer commits the same next version first; this writer's
    *         staged data is removed and the table is untouched — retry
    *         on top of the winner's commit. */
  override def overwriteTable(df: DataFrame, table: String, partitionCols: Seq[String] = Nil): Unit =
    overwriteTable(df, table, partitionCols, Nil)

  def overwriteTable(df: DataFrame, table: String, partitionCols: Seq[String], statsCols: Seq[String]): Unit =
    overwriteTable(df, table, partitionCols, statsCols, Nil)

  /** Commit with a per-file stats manifest over `statsCols` (numeric or
    * string columns): after the commit, parquet FOOTERS of the
    * committed files are read on executors (metadata-only — no data pages
    * touched, distributed, never collected to the driver) and written
    * as a small manifest parquet beside the version metadata.
    * [[readPruned]] then answers range predicates on a stats column by
    * scanning only the files whose [min,max] intersects — Iceberg's
    * manifest pruning, on nothing but parquet + a directory. A crash
    * between the commit and the manifest write degrades cleanly: no
    * manifest → readPruned falls back to the full snapshot. */
  /** Commit with a stats manifest over `statsCols` AND per-file Bloom
    * membership sketches over `sketchCols` — the point-lookup sibling
    * of min/max pruning: [[readPrunedIn]] answers `col = v` / `col IN
    * (...)` by scanning only the files whose sketch claims a possible
    * hit (range stats can't skip for a point value inside every file's
    * [min,max], e.g. a high-cardinality id probed in an unsorted
    * table). Sketch building reads the committed files' DATA once
    * (distributed, bounded memory per file — the bitmap is fixed-size
    * regardless of cardinality); like `statsCols` it persists as a
    * table property so every later commit keeps maintaining it. */
  def overwriteTable(df: DataFrame, table: String, partitionCols: Seq[String], statsCols: Seq[String],
      sketchCols: Seq[String]): Unit =
    overwriteImpl(df, table, partitionCols, statsCols, sketchCols, applySortOrder = true)

  /** [[overwriteTable]] minus the standing sort-order redistribution —
    * for [[compact]]/[[optimize]], whose explicit file shaping
    * (size-targeted repartition, z-order clustering) must not be
    * re-shuffled away by the table's write sort order. */
  private[io] def overwriteShaped(df: DataFrame, table: String, partitionCols: Seq[String],
      statsCols: Seq[String] = Nil, sketchCols: Seq[String] = Nil,
      expectedNext: Option[Int] = None): Unit =
    overwriteImpl(df, table, partitionCols, statsCols, sketchCols, applySortOrder = false,
      expectedNext = expectedNext)

  private def overwriteImpl(df: DataFrame, table: String, partitionCols: Seq[String],
      statsCols: Seq[String], sketchCols: Seq[String], applySortOrder: Boolean,
      commit: VersionMeta = VersionMeta(0), expectedNext: Option[Int] = None): Unit = {
    // statsCols is a persistent TABLE PROPERTY, not a per-write flag:
    // once set, every later commit — merge, delete, compact,
    // overwritePartitions all route through here — keeps maintaining
    // the manifest without the caller re-threading the columns. The
    // property is persisted only AFTER this writer wins the CAS (a
    // race loser must not overwrite the table's stats columns) and
    // atomically (see below), so a concurrent reader never sees a torn
    // column list.
    val effectiveStats = if (statsCols.nonEmpty) statsCols else statsColsFor(table)
    val effectiveSketch = if (sketchCols.nonEmpty) sketchCols else sketchColsFor(table)
    // A hidden-partitioned table re-derives its layout on every plain
    // commit: DML rewrites (merge/delete/compact/optimize) route
    // through here with no partition columns, and without this the
    // rewrite would silently flatten the directory layout. Derived
    // values are pure functions of the data, so re-application is
    // exact; an explicit partitionBy overrides the spec. A MIXED
    // table (identity columns AND derived transforms — Iceberg's
    // general spec, declared via `PARTITIONED BY (region, days(ts))`)
    // re-threads its identity columns too: currentPartitionCols is
    // the previous commit's identity list (the `__p_` names strip),
    // so the full layout survives every plain commit.
    val (df1, partitionCols1) = withTableLayout(df, table, partitionCols, applySortOrder)
    commitVersion(
      table,
      stage = stageWrite(df1, partitionCols1, _),
      partitionCols1 = partitionCols1,
      schemaJson = df1.schema.json,
      commit = commit,
      expectedNext = expectedNext,
      afterWin = () => {
        if (statsCols.nonEmpty) setProp(table, StatsCols, Some(statsCols))
        if (sketchCols.nonEmpty) setProp(table, SketchCols, Some(sketchCols))
      },
      manifestStats = effectiveStats,
      manifestSketch = effectiveSketch)
    ()
  }

  /** Apply the table's standing layout to a frame about to commit:
    * derived hidden-partition transforms re-apply from the persisted
    * spec (pure functions of the data), and empty `partitionCols`
    * INHERITS the current identity layout rather than flattening it —
    * so delete/update/merge/append callers (and bare overwrites) keep
    * the directory structure without re-threading it; an explicit
    * partitionBy still overrides. Returns (frame with derived columns,
    * effective partition columns). */
  private def withTableLayout(df: DataFrame, table: String,
      partitionCols: Seq[String], applySortOrder: Boolean = true): (DataFrame, Seq[String]) = {
    val transforms = if (partitionCols.isEmpty) persistedTransforms(table) else Nil
    val (df1, pcols) =
      if (transforms.isEmpty)
        (df, if (partitionCols.nonEmpty) partitionCols
             else currentPartitionCols(table).filter(df.columns.contains))
      else (transforms.foldLeft(df)((d, t) =>
        if (d.columns.contains(t.name)) d else d.withColumn(t.name, t.expr)),
        currentPartitionCols(table) ++ transforms.map(_.name))
    // standing write sort order (Iceberg's range write distribution +
    // sort order): RANGE-partition the commit on the sort keys, then
    // sort within tasks — each staged file carries a DISJOINT [min,max]
    // run on the sort columns, which is what makes the per-file stats
    // manifest actually skip files (a within-task sort alone would
    // leave every file spanning the whole domain). One extra shuffle
    // per commit, width sized from the frame's own byte stats (a
    // streaming micro-batch lands in 1-2 files, a full snapshot takes
    // the session width) so small deltas never shatter into 32 shards.
    // Partition columns LEAD the keys: rows co-locate per directory
    // and FileFormatWriter's required ordering on them is already
    // satisfied, so it never re-sorts the data-column runs away.
    val so = if (applySortOrder) sortOrder(table).filter(df1.columns.contains) else Nil
    if (so.isEmpty) (df1, pcols)
    else {
      import org.apache.spark.sql.functions.col
      val bytes = df1.queryExecution.optimizedPlan.stats.sizeInBytes
      val configured = scala.util.Try(
        spark.conf.get("spark.sql.shuffle.partitions").toInt
      ).getOrElse(spark.sparkContext.defaultParallelism)
      val width = ((bytes / sortTargetFileBytes) + 1).min(BigInt(configured)).max(BigInt(1)).toInt
      val keys = (pcols ++ so).distinct.map(col)
      (df1.repartitionByRange(width, keys: _*).sortWithinPartitions(keys: _*), pcols)
    }
  }

  /** `graft.write.targetFileBytes` — target bytes per sorted-write
    * file (Iceberg's write.target-file-size-bytes; default 64 MB of
    * Catalyst-estimated input per file). Sizes the sort-order range
    * shuffle so a micro-batch stays in one or two files while a full
    * snapshot spreads across the session width. */
  private def sortTargetFileBytes: Long =
    spark.conf.getOption("graft.write.targetFileBytes") match {
      case None => 64L << 20
      case Some(raw) => raw.trim.toLongOption match {
        case Some(n) if n > 0 => n
        case _ => throw new IllegalArgumentException(
          s"graft.write.targetFileBytes must be a positive long, got '$raw'")
      }
    }

  /** Stage `df` under `dir`, laid out by `pcols` as Spark's partitioned
    * writer lays it out. A frame whose top projection binds every
    * partition column to a non-null literal (a daily load stamped with
    * its date) holds one partition: it is written without those
    * columns straight into that partition's directory, so the value
    * never reaches generated code and a new date compiles no class.
    * Its rows are observed, and a zero-row write leaves no partition
    * directory, as the partitioned writer leaves none. Every other
    * frame takes `partitionBy`. */
  private def stageWrite(df: DataFrame, pcols: Seq[String], dir: Path): Unit =
    literalPartition(df, pcols) match {
      case Some(sub) =>
        import org.apache.spark.sql.functions.{count, lit}
        val obs = org.apache.spark.sql.Observation()
        df.drop(pcols: _*).observe(obs, count(lit(1)).as("rows"))
          .write.mode(SaveMode.Overwrite).parquet(sub.foldLeft(dir)(new Path(_, _)).toString)
        if (obs.get("rows") == 0L) {
          val top = new Path(dir, sub.head)
          fs(top).delete(top, true)
          fs(dir).mkdirs(dir)
        }
      case None =>
        val w = df.write.mode(SaveMode.Overwrite)
        (if (pcols.nonEmpty) w.partitionBy(pcols: _*) else w).parquet(dir.toString)
    }

  /** The directories (`a=1`, `b=x`) all of `df`'s rows land in under
    * `partitionBy(pcols)`, when its optimized plan's top projection
    * (below any `observe`) binds each partition column to a non-null
    * literal: the name Spark's dynamic writer gives, the value cast to
    * string in the session time zone. */
  private def literalPartition(df: DataFrame, pcols: Seq[String]): Option[Seq[String]] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Cast, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{CollectMetrics, LogicalPlan, Project}
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StringType, VariantType}
    def belowMetrics(p: LogicalPlan): LogicalPlan = p match {
      case c: CollectMetrics => belowMetrics(c.child)
      case other => other
    }
    // partitionBy refuses nested and variant columns; those keep it
    def scalar(t: DataType): Boolean = t match {
      case _: StructType | _: ArrayType | _: MapType | _: VariantType => false
      case _ => true
    }
    if (pcols.isEmpty) None
    else belowMetrics(df.queryExecution.optimizedPlan) match {
      case Project(list, _) =>
        val tz = Some(spark.conf.get("spark.sql.session.timeZone"))
        val dirs = pcols.map(c => list.collectFirst {
          case Alias(l @ Literal(v, t), name) if name == c && v != null && scalar(t) =>
            org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.getPartitionPathString(
              c, Cast(l, StringType, tz).eval().toString)
        })
        Option.when(dirs.forall(_.isDefined))(dirs.flatten)
      case _ => None
    }
  }

  /** The commit every commit shape shares — full snapshots
    * ([[overwriteTable]]) and delta commits ([[append]], [[upsertMor]],
    * [[deleteKeysMor]] and the patch-style MOR DML): write the data via
    * `stage(dir)` into a fresh heartbeated pool dir, claim the version
    * meta (the CAS — the whole commit), then run post-commit
    * bookkeeping (stats/sketch property persistence via `afterWin`,
    * manifest, pointer advance, retention). `commit` carries the
    * kind-specific version metadata — a bare `VersionMeta(0)` for a
    * full snapshot; delta commits set kind, base and key columns there
    * — and this fills in the version, writer, layout, data dir and
    * schema. `expectedNext` fences content races for delta producers
    * whose staged rows were computed AGAINST a specific base version:
    * if another writer committed since the producer read that base, the
    * commit fails with [[SnapshotTables.ConcurrentCommitException]]
    * instead of recording a delta whose base no longer matches. Returns
    * the committed version. */
  private def commitVersion(
      table: String,
      stage: Path => Unit,
      partitionCols1: Seq[String],
      schemaJson: String,
      commit: VersionMeta,
      expectedNext: Option[Int],
      afterWin: () => Unit,
      manifestStats: Seq[String],
      manifestSketch: Seq[String]): Int = {
    val next = currentVersion(table) + 1
    expectedNext.foreach { e =>
      if (e != next) throw new SnapshotTables.ConcurrentCommitException(table, next)
    }
    // The data goes straight to its final, write-once pool dir,
    // invisible because no meta references it yet. A heartbeat marker
    // inside the dir is refreshed for as long as the write job runs, so
    // the orphan sweep can tell a LIVE long write from abandonment
    // (task-output activity under _temporary/ does not refresh the
    // dir's own mtime).
    val writerId = java.util.UUID.randomUUID.toString
    val dir = new Path(dataPoolDir(table), writerId)
    withHeartbeat(dir) { stage(dir) }
    val metaJson = commit.copy(v = next, writer = writerId, partitionCols = partitionCols1,
      dataDir = Some(writerId), schema = schemaJson).render
    if (!casWithOrphanReclaim(table, next, metaPath(table, next), metaJson)) {
      fs(dir).delete(dir, true)
      throw new SnapshotTables.ConcurrentCommitException(table, next)
    }
    afterWin()
    if (manifestStats.nonEmpty || manifestSketch.nonEmpty)
      writeManifest(table, next, manifestStats, manifestSketch)
    advancePointer(table, next)
    expire(table, next)
    next
  }

  /** Run `body` (the staged write job) with a live-writer heartbeat: a
    * daemon thread re-writes a hidden marker file inside `dir` every
    * `heartbeatMs`, keeping its mtime fresh for [[removeOrphans]]' age
    * check. The marker is removed once the write completes (the dir is
    * about to be claimed by a commit; hidden files are invisible to
    * readers anyway, but there is no reason to carry it). */
  private def withHeartbeat(dir: Path)(body: => Unit): Unit = {
    val marker = new Path(dir, SnapshotTables.HeartbeatName)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val t = new Thread(() => {
      try {
        while (!stop.get()) {
          // Beat ONLY once the write job has created the staging dir.
          // The marker write would otherwise CREATE the dir before the
          // job starts, and the job's Overwrite mode then races its
          // clear-output step against the next beat re-creating the
          // marker — an intermittent "Unable to clear output directory"
          // job failure (observed live). An existing dir is never
          // cleared mid-write by the job again, so beating after
          // creation is race-free; a write that finishes before the
          // first beat simply never needed liveness marking (the
          // sweep falls back to dir mtime).
          try { if (fs(dir).exists(dir)) writeSmallFile(marker, System.currentTimeMillis.toString) }
          catch { case _: java.io.IOException => () } // transient: next beat retries
          val deadline = System.currentTimeMillis + heartbeatMs
          while (!stop.get() && System.currentTimeMillis < deadline) Thread.sleep(200)
        }
      } catch { case _: InterruptedException => () } // teardown interrupt (below)
    }, s"graft-staging-heartbeat-${dir.getName}")
    t.setDaemon(true)
    t.start()
    try body
    finally {
      // interrupt, don't just flag: the beat loop sleeps in 200 ms
      // slices, and a bare join here stalled EVERY staged commit an
      // average ~100 ms waiting the current slice out (driver-profiled
      // at ~10 % of q133's wall, r20 optimization round)
      stop.set(true); t.interrupt(); t.join(5000)
      try { val f = fs(marker); if (f.exists(marker)) f.delete(marker, false) }
      catch { case _: java.io.IOException => () }
    }
  }

  /** Advance the pointer cache, never regress it: a slower writer
    * finishing an older version after a newer one flipped must not
    * move readers backwards. */
  private def advancePointer(table: String, next: Int): Unit =
    if (next > pointerVersion(table)) writeSmallFile(pointer(table), next.toString)

  /** Snapshot model has no partial commit: partition-level overwrite
    * still commits a full new version built from current ∖ incoming
    * partitions ∪ incoming (the copy-on-write Iceberg strategy). */
  override def overwritePartitions(df: DataFrame, table: String, partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "overwritePartitions needs partition columns")
    val cur = currentVersion(table)
    val merged =
      if (cur == 0) df
      else {
        val existing = read(table)
        val incoming = df.select(partitionCols.map(org.apache.spark.sql.functions.col): _*).distinct()
        existing.join(incoming, partitionCols, "left_anti").unionByName(df)
      }
    overwriteTable(merged, table, partitionCols)
  }

  /** Copy-on-write MERGE (upsert): rows of `updates` replace current
    * rows with the same `keyCols` value; unmatched update rows are
    * inserted — `MERGE INTO t USING u ON keys WHEN MATCHED THEN UPDATE
    * WHEN NOT MATCHED THEN INSERT`, committed as a new snapshot version
    * (prior versions remain time-travelable). The merge itself is one
    * anti-join (current rows whose key is NOT updated) + union — the
    * copy-on-write strategy; at scale the anti-join shuffles on the key
    * like any MERGE, and a mostly-unchanged table pays the rewrite,
    * which is exactly Iceberg COW's trade (merge-on-read is the other
    * half, out of scope for a parquet-directory snapshot model).
    * On an empty table, MERGE degenerates to insert-all. */
  def merge(table: String, updates: DataFrame, keyCols: Seq[String], partitionCols: Seq[String] = Nil): Unit =
    merge(table, updates, keyCols, partitionCols, evolveSchema = false)

  /** MERGE with optional SCHEMA EVOLUTION (Iceberg's
    * `mergeSchema`/add-column semantics): with `evolveSchema`, source
    * columns the table lacks are ADDED (existing rows read NULL — the
    * snapshot schema grows at the end, old versions untouched), and
    * table columns the source lacks are null-filled for the incoming
    * rows. Column ADD/DROP mismatches only — a same-name TYPE conflict
    * still fails the commit (silent coercion is how corrupt lakes are
    * made; route deliberate re-typing through an explicit cast in the
    * source frame). Without `evolveSchema`, any column mismatch fails
    * as before. */
  def merge(table: String, updates: DataFrame, keyCols: Seq[String], partitionCols: Seq[String],
      evolveSchema: Boolean): Unit = {
    require(keyCols.nonEmpty, "merge needs key columns")
    val cur = currentVersion(table)
    val merged =
      if (cur == 0) updates
      else {
        val keys = updates.select(keyCols.map(org.apache.spark.sql.functions.col): _*).distinct()
        read(table).join(keys, keyCols, "left_anti")
          .unionByName(updates, allowMissingColumns = evolveSchema)
      }
    overwriteTable(merged, table, partitionCols)
  }

  /** Copy-on-write DELETE: current rows matching `predicate` are
    * dropped, the remainder committed as a new version — completing the
    * DML triad (overwrite / merge / delete) on the snapshot model. The
    * rewrite cost is COW's trade, but deletion by time-travelable
    * version is also what makes a GDPR-style purge auditable: the purge
    * is a commit, and `expire` eventually removes the data physically. */
  def delete(table: String, predicate: org.apache.spark.sql.Column, partitionCols: Seq[String] = Nil): Unit = {
    require(currentVersion(table) > 0, s"table $table has no committed version")
    // SQL DELETE semantics: only rows where the predicate is TRUE go;
    // rows where it evaluates NULL are KEPT (a bare `!predicate` would
    // silently delete them too)
    import org.apache.spark.sql.functions.{coalesce, lit}
    overwriteTable(read(table).filter(!coalesce(predicate, lit(false))), table, partitionCols)
  }

  /** Copy-on-write UPDATE — the third leg of the DML triad: rows where
    * `predicate` is TRUE take the `sets` assignments, every other row
    * is carried unchanged, one new committed version. All assignment
    * expressions evaluate against the OLD row (SQL semantics — `SET a
    * = b, b = a` swaps), which is why new values are materialized as
    * temporary columns before any column is replaced. */
  def update(table: String, sets: Seq[(String, org.apache.spark.sql.Column)],
      predicate: org.apache.spark.sql.Column, partitionCols: Seq[String] = Nil): Unit = {
    require(currentVersion(table) > 0, s"table $table has no committed version")
    require(sets.nonEmpty, "update needs at least one assignment")
    val cur = read(table)
    val unknown = sets.map(_._1).filterNot(cur.columns.contains)
    require(unknown.isEmpty, s"unknown columns in SET: ${unknown.mkString(", ")}")
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    val hit = coalesce(predicate, lit(false))
    val tmp = sets.zipWithIndex.map { case ((c, v), i) => (c, s"__upd_$i", v) }
    val staged = tmp.foldLeft(cur)((d, t) => d.withColumn(t._2, when(hit, t._3).otherwise(col(t._1))))
    val out = cur.columns.toSeq.map(c => tmp.find(_._1 == c).map(t => col(t._2).as(c)).getOrElse(col(c)))
    overwriteTable(staged.select(out: _*), table, partitionCols)
  }

  // ------------------------------------------------------------------
  // Delta commits — the merge-on-read half of the table format (public
  // knowledge: Iceberg v2 row-level deletes and Delta's deletion
  // vectors both commit SMALL delta files and defer the rewrite to
  // compaction). A full-snapshot commit is O(table); at the 100 TB
  // point a daily append or a 0.01% DELETE must not rewrite the world,
  // so these commit O(delta) bytes: a version directory holding ONLY
  // the delta, with its kind and base recorded in the version
  // metadata. Readers resolve the chain (base full snapshot + deltas
  // in order) into one DataFrame plan — anti-joins and unions, fully
  // distributed, no driver materialization. Chains are bounded:
  // `graft.delta.maxChainLength` (default 16) triggers automatic
  // MINOR COMPACTION ([[compactDeltas]] — fold the deltas into one
  // equivalent segment at O(Σ deltas), the base untouched), escalating
  // to a materializing O(table) commit only when the deltas have grown
  // to rival the base (`graft.delta.materializeRatio`) or the chain is
  // unfoldable; compact()/optimize() always materialize.
  //
  // Commit kinds, each with its resolution rule:
  //  - "append":     dir holds new data rows (table layout applied) →
  //                  base ∪ delta. Stats manifests keep being written
  //                  per segment, so file pruning and fastCount stay
  //                  available on append-only chains.
  //  - "mor_upsert": dir holds replacement rows, meta carries key_cols
  //                  → (base ⟕̸ keys) ∪ delta. The streaming merge
  //                  sink's O(batch) commit path.
  //  - "mor_delete": dir holds deleted KEY rows (key_cols in meta) →
  //                  base anti-join keys. A GDPR purge writes only the
  //                  ids it purges.
  //  - "mor_patch":  dir holds del/ and add/ subdirs (full row images,
  //                  multiset semantics) → (base EXCEPT ALL del) ∪ add.
  //                  The shape predicate DELETE/UPDATE lower to when
  //                  the table's write mode is "mor".
  //  - "mor_revise": minor compaction's folded segment — del/ holds
  //                  KEY rows, add/ full rows (key_cols in meta) →
  //                  (base ⟕̸ keys) ∪ add. Only [[compactDeltas]]
  //                  commits it; its meta carries `fold:true` so CDC
  //                  knows the commit was content-preserving.
  // Reading a chain — its data dirs, their read schemas, the output
  // schema and the resolution rules above — is io/SnapshotReads.scala
  // ([[chainScan]]): time travel, diff/CDC, rollback, branches, the
  // change feed and SQL scans all read through it and therefore
  // resolve chains transparently; retention protects every chain
  // ancestor a retained version still needs.
  // ------------------------------------------------------------------

  private[io] def versionMeta(table: String, v: Int): VersionMeta =
    readMeta(table, v).getOrElse(throw new IllegalArgumentException(
      s"version $v of $table is not retained (metadata missing) — its delta chain cannot be resolved"))

  /** The delta chain of `v`, ascending: a full base first, then every
    * delta up to and including `v`. A full version is its own
    * single-element chain. */
  private[io] def chainOf(table: String, v: Int): Seq[VersionMeta] = {
    val m = versionMeta(table, v)
    if (m.kind == "full") Seq(m)
    else {
      require(m.base > 0 && m.base < v,
        s"delta version $v of $table has invalid base ${m.base}")
      chainOf(table, m.base) :+ m
    }
  }

  /** Commit kinds along the current version's chain (diagnostics and
    * the V2 scan planner's append-only fast path). */
  private[graft] def chainKinds(table: String, v: Int): Seq[String] =
    chainOf(table, v).map(_.kind)

  /** A listed version's commit kind ("full" / "append" / "mor_*") — the
    * `.history` metadata table's `kind` column; None when its meta is
    * absent (expired since the listing). A meta that does not parse
    * throws, naming the file. */
  private[graft] def listedKind(table: String, v: Int): Option[String] =
    readMeta(table, v).map(_.kind)

  /** Upper bound on a delta chain before a delta commit materializes a
    * full snapshot first (every chain segment is one more scan + union
    * or anti-join in each read plan — unbounded chains would trade
    * write amplification for unbounded read cost). Tunable per session
    * via `graft.delta.maxChainLength`. */
  private def maxChainLength: Int =
    spark.conf.getOption("graft.delta.maxChainLength") match {
      case None => 16
      case Some(raw) => raw.trim.toIntOption match {
        case Some(n) if n > 0 => n
        case _ => throw new IllegalArgumentException(
          s"graft.delta.maxChainLength must be a positive int, got '$raw'")
      }
    }

  /** Materialize the current delta chain into one full snapshot
    * version (content unchanged — a maintenance commit like
    * [[compact]], but without re-bucketing the data). No-op on a table
    * whose head is already a full snapshot. */
  def materialize(table: String): Unit = {
    val cur = currentVersion(table)
    require(cur > 0, s"table $table has no committed version")
    // CONTENT-PRESERVING rewrite, so its commit slot is pinned to the
    // version whose content was read: without expectedNext a writer
    // landing between this read and the commit would be SILENTLY
    // REPLACED by the stale full snapshot (found by the catalog stress
    // fuzz) — last-writer-wins is correct for a user overwrite, never
    // for maintenance. A lost race throws ConcurrentCommitException;
    // callers retry, re-reading the winner's chain.
    if (chainOf(table, cur).length > 1) rewriteHead(table, cur)
  }

  /** Commit version `cur`'s content again as one full version in a
    * fresh pool dir, slotted right after `cur`. */
  private def rewriteHead(table: String, cur: Int): Unit =
    overwriteImpl(readVersion(table, cur), table, Nil, Nil, Nil,
      applySortOrder = true, expectedNext = Some(cur + 1))

  /** MINOR COMPACTION (LSM-style): fold the current chain's DELTA
    * segments into ONE equivalent delta against the chain's base, at
    * O(Σ deltas) cost — the base is never read, let alone rewritten.
    * This is what keeps a streaming MOR sink viable on a huge table:
    * [[materialize]] is O(table), so a budget that only materializes
    * would rewrite the whole table every `maxChainLength` micro-batches.
    *
    * The fold is exact (content-identical to the unfolded chain) and
    * commits ONE new version whose meta records `base = <chain head>`
    * and `fold = true` (so CDC step diffs know it is content-preserving
    * and report empty at zero scans). Three foldable shapes:
    *
    *  - all-append → one combined "append" segment (layout re-derived,
    *    per-segment stats manifest kept, so the append-only fast scan
    *    path and fastCount/pruning survive the fold);
    *  - append/upsert/delete mixes sharing ONE key set → a
    *    "mor_revise" segment: del/ holds every key any upsert or
    *    delete touched, add/ the surviving replacement+appended rows.
    *    Derivation (⊎/∖ multiset, ⟕̸ key anti-join): maintaining the
    *    invariant state = (base ⟕̸ K) ⊎ R, an upsert U maps
    *    (K, R) → (K ∪ keys(U), (R ⟕̸ keys(U)) ⊎ U) and a delete D maps
    *    (K, R) → (K ∪ D, R ⟕̸ D) — both computed from delta segments
    *    only;
    *  - all-patch → one combined "mor_patch" via the multiset identity
    *    (P ⊎ Q) ∖ R = (Q ∖ R) ⊎ (P ∖ (R ∖ Q)): applying patch (d, a)
    *    to state (B ∖ D) ⊎ A gives D' = D ⊎ (d ∖ A), A' = (A ∖ d) ⊎ a,
    *    exact for every base B.
    *
    * Returns false (no commit) when there is nothing to fold (≤ 1
    * delta) or the chain is unfoldable: patch segments mixed with
    * keyed ones, or keyed segments with differing key sets — those
    * depend on base rows to reconcile and fall back to [[materialize]]
    * in the budget path. Fencing: like any delta commit, fails with
    * ConcurrentCommitException if a writer lands mid-fold. */
  /** SIZE-TIERED minor compaction (X115 — LSM size-tiering on the
    * delta chain): fold only the maximal NEWEST run of append segments
    * each smaller than `tierBytes` into ONE folded append, leaving
    * every larger segment (typically a previous fold's output)
    * physically untouched. [[compactDeltas]] re-reads the WHOLE delta
    * chain — the previous fold's segment included — on every call:
    * O(Σ deltas) per fold, quadratic over a long-lived streaming
    * chain's lifetime. The tiered fold pays O(bytes landed since the
    * last fold), so each byte is rewritten O(log(total/tier)) times as
    * folds graduate across the tier line — the LSM story a 100 TB
    * streaming table needs. Appends commute with everything below
    * them, so the top run folds correctly above ANY lower chain
    * (merge-on-read segments included); the run itself must be pure
    * append. Evolved chains refuse like the full fold. The fold's base
    * pointer jumps to the segment just below the run — the same
    * base-jump every fold commit already records — and the folded
    * segment keeps layout + stats/sketch manifests like any append.
    * Returns true when a fold committed. */
  def compactDeltasTiered(table: String, tierBytes: Long): Boolean = {
    require(tierBytes > 0, s"tierBytes must be positive, got $tierBytes")
    val cur = currentVersion(table)
    require(cur > 0, s"table $table has no committed version")
    val segs = chainOf(table, cur)
    if (segs.length <= 2) return false
    if (segs.exists(_.schemaEvolved)) return false
    // newest-first run of small appends; never the bottom segment
    val run = segs.tail.reverse.takeWhile { s =>
      s.kind == "append" && dirBytes(table, s.v) < tierBytes
    }.reverse
    if (run.length < 2) return false
    val baseV = segs(segs.length - run.length - 1).v
    val folded = run.flatMap(dirsOf(table, _)).map(_.rows).reduceOption(_ unionByName _)
    folded match {
      case None => false // every run segment empty: nothing to write
      case Some(f) =>
        val (df1, pcols) = withTableLayout(f, table, Nil)
        val (schema, ofFiles) = deltaSchema(read(table).schema, df1)
        commitVersion(table,
          stage = stageWrite(df1, pcols, _),
          partitionCols1 = currentPartitionCols(table),
          schemaJson = schema.json,
          commit = VersionMeta(0, "append", baseV, fold = true, schemaOfFiles = ofFiles),
          expectedNext = Some(cur + 1),
          afterWin = () => (),
          manifestStats = statsColsFor(table), manifestSketch = sketchColsFor(table))
        true
    }
  }

  def compactDeltas(table: String): Boolean = {
    import org.apache.spark.sql.functions.col
    val cur = currentVersion(table)
    require(cur > 0, s"table $table has no committed version")
    val scan = chainScan(table, cur)
    val segs = scan.segs
    if (segs.length <= 2) return false
    val head = segs.head.v
    val deltas = segs.tail
    // chains carrying a metadata-only schema evolution don't fold
    // (segments have heterogeneous file schemas; the budget's
    // materialize conforms everything and restores the fast paths)
    if (deltas.exists(_.schemaEvolved)) return false
    val kinds = deltas.map(_.kind).toSet
    val tableSchema = scan.schema

    def unionOpt(a: Option[DataFrame], b: Option[DataFrame]): Option[DataFrame] = (a, b) match {
      case (Some(x), Some(y)) => Some(x.unionByName(y))
      case (x, None) => x
      case (None, y) => y
    }
    // the append fold's dir and a revise fold's add/ are written with the
    // table's layout (`laid`, the staged frame), and described by the meta
    // when their types are the table's ([[deltaSchema]])
    def commitFold(kind: String, keyCols: Seq[String], laid: Option[DataFrame], stage: Path => Unit,
        mStats: Seq[String], mSketch: Seq[String]): Unit = {
      val (schema, ofFiles) = laid.fold((tableSchema, false))(deltaSchema(tableSchema, _))
      commitVersion(table, stage,
        partitionCols1 = currentPartitionCols(table),
        schemaJson = schema.json,
        commit = VersionMeta(0, kind, head, keyCols, fold = true, schemaOfFiles = ofFiles),
        expectedNext = Some(cur + 1),
        afterWin = () => (),
        manifestStats = mStats, manifestSketch = mSketch)
      ()
    }

    if (kinds == Set("append")) {
      val folded = deltas.flatMap(scan.rows(_)).reduceOption(_ unionByName _)
      folded match {
        case None => false // every segment empty: nothing to write, chain is already trivial
        case Some(f) =>
          val laid = withTableLayout(f, table, Nil)
          commitFold("append", Nil, Some(laid._1), stageWrite(laid._1, laid._2, _),
            statsColsFor(table), sketchColsFor(table))
          true
      }
    } else if (!kinds.contains("mor_patch")) {
      val keyed = deltas.filter(_.kind != "append")
      if (keyed.map(_.keyCols.toSet).distinct.length != 1) return false
      val kcols = keyed.head.keyCols
      var delKeys: Option[DataFrame] = None
      var add: Option[DataFrame] = None
      deltas.foreach { s =>
        s.kind match {
          case "append" => add = unionOpt(add, scan.rows(s))
          case "mor_upsert" =>
            scan.rows(s).foreach { u =>
              val uk = u.select(kcols.map(col): _*).distinct()
              add = unionOpt(add.map(_.join(uk, kcols, "left_anti")), Some(u))
              delKeys = unionOpt(delKeys, Some(uk))
            }
          case "mor_delete" =>
            scan.rows(s).foreach { d =>
              val dk = d.select(kcols.map(col): _*).distinct()
              add = add.map(_.join(dk, kcols, "left_anti"))
              delKeys = unionOpt(delKeys, Some(dk))
            }
          case "mor_revise" =>
            // a PREVIOUS fold's segment re-folding: apply its del keys
            // like a delete, then union its add rows — same invariant
            scan.rows(s, "del").foreach { d =>
              val dk = d.select(kcols.map(col): _*).distinct()
              add = add.map(_.join(dk, kcols, "left_anti"))
              delKeys = unionOpt(delKeys, Some(dk))
            }
            add = unionOpt(add, scan.rows(s, "add"))
          case other => throw new IllegalStateException(s"unexpected kind '$other' in keyed fold")
        }
      }
      val dk = delKeys.map(_.distinct())
      val laid = add.map(withTableLayout(_, table, Nil))
      commitFold("mor_revise", kcols, laid.map(_._1),
        tmp => {
          dk.foreach(_.write.mode(SaveMode.Overwrite).parquet(new Path(tmp, "del").toString))
          laid.foreach { case (df1, pcols) => stageWrite(df1, pcols, new Path(tmp, "add")) }
        }, Nil, Nil)
      true
    } else if (kinds == Set("mor_patch")) {
      var d: Option[DataFrame] = None
      var a: Option[DataFrame] = None
      deltas.foreach { s =>
        val di = scan.rows(s, "del")
        val ai = scan.rows(s, "add")
        // D' = D ⊎ (dᵢ ∖ A);  A' = (A ∖ dᵢ) ⊎ aᵢ
        val dNew = di.map { x =>
          a match {
            case Some(aa) => graft.core.MapSafeSetOps.exceptAll(x, aa)
            case None => x
          }
        }
        val aAfterDel = a.map { aa =>
          di match {
            case Some(x) => graft.core.MapSafeSetOps.exceptAll(aa, x)
            case None => aa
          }
        }
        d = unionOpt(d, dNew)
        a = unionOpt(aAfterDel, ai)
      }
      commitFold("mor_patch", Nil, None,
        tmp => {
          d.foreach(_.write.mode(SaveMode.Overwrite).parquet(new Path(tmp, "del").toString))
          a.foreach(_.write.mode(SaveMode.Overwrite).parquet(new Path(tmp, "add").toString))
        }, Nil, Nil)
      true
    } else false // patch segments mixed with keyed ones need base rows to reconcile
  }

  /** `graft.delta.minorCompaction` — whether the chain budget tries a
    * fold before falling back to the O(table) materialize (default on). */
  private def minorCompactionEnabled: Boolean =
    spark.conf.getOption("graft.delta.minorCompaction") match {
      case None => true
      case Some(raw) => raw.trim.toBooleanOption.getOrElse(
        throw new IllegalArgumentException(
          s"graft.delta.minorCompaction must be true/false, got '$raw'"))
    }

  /** `graft.delta.materializeRatio` — once the chain's accumulated
    * delta bytes exceed this fraction of the base's bytes, the budget
    * materializes instead of folding: repeated folds re-write the
    * folded segment (LSM write amplification on DELTA data), and past
    * this point one materialize costs about as much as the next fold
    * while resetting the chain's read cost to a single scan. */
  private def materializeRatio: Double =
    spark.conf.getOption("graft.delta.materializeRatio") match {
      case None => 0.5
      case Some(raw) => raw.trim.toDoubleOption match {
        case Some(r) if r > 0 => r
        case _ => throw new IllegalArgumentException(
          s"graft.delta.materializeRatio must be a positive number, got '$raw'")
      }
    }

  private def dirBytes(table: String, v: Int): Long = {
    val d = dataDirOf(table, v)
    fs(d).getContentSummary(d).getLength
  }

  /** LSM fold tier for the chain budget ([[compactDeltasTiered]]):
    * append segments below this many bytes are folded by the budget's
    * tiered pass, larger ones (previous folds' outputs) stay
    * physically untouched until a full fold/materialize is justified.
    * 0 disables tiering (the budget then always full-folds). */
  private def foldTierBytes: Long =
    spark.conf.getOption("graft.delta.foldTierBytes") match {
      case None => 256L << 20
      case Some(raw) => raw.trim.toLongOption match {
        case Some(n) if n >= 0 => n
        case _ => throw new IllegalArgumentException(
          s"graft.delta.foldTierBytes must be a non-negative byte count, got '$raw'")
      }
    }

  /** Pre-commit chain budget: when one more delta would push the chain
    * past [[maxChainLength]], FOLD the deltas — unless they have grown
    * to rival the base ([[materializeRatio]]) or the chain is
    * unfoldable, in which case materialize (O(table)). The fold is
    * SIZE-TIERED first ([[compactDeltasTiered]]): only the newest run
    * of small appends is rewritten, so a long-lived streaming chain
    * pays O(bytes since the last fold) per budget trip instead of
    * re-folding its whole delta history; the full fold
    * ([[compactDeltas]]) runs only when tiering alone cannot bound the
    * chain. Either way the next commit starts a near-empty chain, and
    * a 100 TB base is only ever rewritten when the delta volume itself
    * justifies it. */
  private def ensureChainBudget(table: String): Unit = {
    val cur = currentVersion(table)
    if (cur > 0 && chainOf(table, cur).length >= maxChainLength) {
      val segs = chainOf(table, cur)
      val tryFold = minorCompactionEnabled &&
        segs.tail.map(s => dirBytes(table, s.v)).sum <=
          dirBytes(table, segs.head.v) * materializeRatio
      val tier = foldTierBytes
      if (tryFold && tier > 0 && compactDeltasTiered(table, tier) &&
          chainOf(table, currentVersion(table)).length < maxChainLength) return
      val folded = tryFold && compactDeltas(table)
      if (!folded) materialize(table)
    }
  }

  /** The delta frame must cover exactly the table's columns — a delta
    * that silently dropped or invented a column would corrupt every
    * later read of the chain. (Schema evolution stays a FULL-commit
    * affair: route widening through merge(evolveSchema = true).) */
  private def requireSameColumns(table: String, df: DataFrame, what: String): Unit = {
    val cur = read(table).columns.toSet
    val got = df.columns.toSet
    require(cur == got,
      s"$what on $table needs the table's exact columns; " +
        s"missing ${(cur -- got).mkString(",")} extra ${(got -- cur).mkString(",")}")
  }

  /** What the meta of a delta written with the table's layout records,
    * and whether that is the read schema of the delta's files
    * ([[filesSchema]]). The files hold `laidOut`, the staged frame. When
    * its columns are the table's, each with the table's type (nested
    * field names and order included; nullability aside, as a file read
    * makes every column nullable), the meta records the table's columns
    * plus the `__p_*` layout columns, marked as the files' schema.
    * Otherwise it records the table's schema alone, and reads of the
    * delta infer from its footers: a delta of other types (int rows in a
    * bigint column, a struct with reordered fields) reads, resolves and
    * folds as it always did. */
  private def deltaSchema(tableSchema: org.apache.spark.sql.types.StructType,
      laidOut: DataFrame): (org.apache.spark.sql.types.StructType, Boolean) = {
    val (layout, cols) = laidOut.schema.fields.partition(_.name.startsWith("__p_"))
    def types(fs: Seq[org.apache.spark.sql.types.StructField]) =
      fs.map(f => f.name -> SnapshotTables.nullable(f.dataType))
    if (cols.length == tableSchema.length && types(cols).toMap == types(tableSchema).toMap)
      (org.apache.spark.sql.types.StructType(tableSchema.fields ++ layout), true)
    else (tableSchema, false)
  }

  /** IDEMPOTENT-COMMIT guard (Delta's `txn` appId/version shape, a
    * public design; Iceberg lacks it and retried batch jobs double-
    * append): when a commit carries a `txnId` and any RETAINED version
    * of the table already recorded it, the commit is a no-op. The CAS
    * serializes the race (two retries with one txn: the loser's
    * ConcurrentCommitException retry then SEES the winner's txn and
    * skips). Txn memory = the retention window — size retention to the
    * longest possible retry horizon, the same trade Delta documents
    * for its transaction identifiers. A version expired between the
    * listing and the read went with its txn; any other unreadable or
    * torn meta throws — read as "not committed" it would let the txn
    * commit twice. */
  private def txnAlreadyCommitted(table: String, txn: String): Boolean =
    history(table).exists(v => readMeta(table, v).exists(_.txn.contains(txn)))

  private def checkedTxn(txnId: Option[String]): Option[String] = {
    txnId.foreach(tx => require(tx.matches("[A-Za-z0-9._:\\-]+"),
      s"txnId must be [A-Za-z0-9._:-]+ (got '$tx')"))
    txnId
  }

  /** FAST APPEND — the O(delta) commit every ingestion pipeline leans
    * on (Iceberg's appendFiles): ONLY the new rows are written, as a
    * delta version whose resolution is base ∪ delta. The table's
    * layout (identity partition columns and hidden-partition
    * transforms) applies to the delta files, and the stats/sketch
    * manifest is maintained over the delta segment, so partition
    * pruning, file skipping and metadata-only counts keep working on
    * append-only chains. On an empty table this is the first full
    * commit. `txnId` makes a retried batch land exactly once (see
    * [[txnAlreadyCommitted]]). */
  def append(df: DataFrame, table: String, txnId: Option[String] = None): Unit = {
    if (txnId.exists(txnAlreadyCommitted(table, _))) return
    val cur = currentVersion(table)
    if (cur == 0) {
      // bootstrap commit records the txn in ITS version meta too
      overwriteImpl(df, table, Nil, Nil, Nil, applySortOrder = true,
        commit = VersionMeta(0, txn = checkedTxn(txnId)))
      return
    }
    requireSameColumns(table, df, "append")
    ensureChainBudget(table)
    commitDelta(table, df, "append", Nil, txnId, withLayout = true, manifest = true)
  }

  /** Merge-on-read UPSERT: commit ONLY the replacement rows; readers
    * resolve `(base anti-join keys) ∪ delta`. The commit never reads
    * the base table at all — the O(batch) path a streaming merge sink
    * needs ([[graft.streaming.Streams.snapshotMergeSink]] `mor =
    * true`). Unmatched keys are inserts, matched keys full-row
    * replacements (same contract as [[merge]]). */
  def upsertMor(table: String, updates: DataFrame, keyCols: Seq[String],
      txnId: Option[String] = None): Unit = {
    require(keyCols.nonEmpty, "upsertMor needs key columns")
    if (txnId.exists(txnAlreadyCommitted(table, _))) return
    val cur = currentVersion(table)
    if (cur == 0) {
      overwriteImpl(updates, table, Nil, Nil, Nil, applySortOrder = true,
        commit = VersionMeta(0, txn = checkedTxn(txnId)))
      return
    }
    requireSameColumns(table, updates, "upsertMor")
    require(keyCols.forall(updates.columns.contains),
      s"upsertMor keys ${keyCols.mkString(",")} must be columns of the updates frame")
    requireJoinableKeys(updates, keyCols, "upsertMor")
    ensureChainBudget(table)
    commitDelta(table, updates, "mor_upsert", keyCols, txnId, withLayout = true, manifest = false)
  }

  /** Merge-on-read keyed DELETE: commit ONLY the deleted keys (a
    * GDPR-style purge of n ids writes n rows, not the table); readers
    * anti-join the base on them. `keys`' columns ARE the key columns.
    * The physical data outlives in prior versions until retention
    * expires them — same auditable-purge semantics as the COW
    * [[delete]], at O(keys) write cost. */
  def deleteKeysMor(table: String, keys: DataFrame, txnId: Option[String] = None): Unit = {
    require(currentVersion(table) > 0, s"table $table has no committed version")
    if (txnId.exists(txnAlreadyCommitted(table, _))) return
    val keyCols = keys.columns.toSeq
    require(keyCols.nonEmpty, "deleteKeysMor needs at least one key column")
    val missing = keyCols.filterNot(read(table).columns.contains)
    require(missing.isEmpty, s"deleteKeysMor keys not in table: ${missing.mkString(",")}")
    requireJoinableKeys(keys, keyCols, "deleteKeysMor")
    ensureChainBudget(table)
    commitDelta(table, keys, "mor_delete", keyCols, txnId, withLayout = false, manifest = false)
  }

  /** Merge-on-read predicate DELETE: the matching rows are computed
    * once (a scan — unavoidable for an arbitrary predicate) but only
    * THEY are written, as the `del/` side of a patch version; readers
    * resolve base EXCEPT ALL del. Same NULL semantics as [[delete]]:
    * only rows where the predicate is TRUE go. */
  def deleteWhereMor(table: String, predicate: org.apache.spark.sql.Column): Unit = {
    require(currentVersion(table) > 0, s"table $table has no committed version")
    import org.apache.spark.sql.functions.{coalesce, lit}
    ensureChainBudget(table)
    val matched = read(table).filter(coalesce(predicate, lit(false)))
    commitPatch(table, del = Some(matched), add = None)
  }

  /** Merge-on-read UPDATE: old images of matched rows go to `del/`,
    * their updated images to `add/` — one patch version, O(matched)
    * write. Assignment semantics identical to [[update]] (all values
    * evaluate against the OLD row). */
  def updateMor(table: String, sets: Seq[(String, org.apache.spark.sql.Column)],
      predicate: org.apache.spark.sql.Column): Unit = {
    require(currentVersion(table) > 0, s"table $table has no committed version")
    require(sets.nonEmpty, "updateMor needs at least one assignment")
    val cur = read(table)
    val unknown = sets.map(_._1).filterNot(cur.columns.contains)
    require(unknown.isEmpty, s"unknown columns in SET: ${unknown.mkString(", ")}")
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    ensureChainBudget(table)
    val hit = coalesce(predicate, lit(false))
    val old = read(table).filter(hit)
    val tmp = sets.zipWithIndex.map { case ((c, v), i) => (c, s"__upd_$i", v) }
    val staged = tmp.foldLeft(old)((d, t) => d.withColumn(t._2, t._3))
    val out = old.columns.toSeq.map(c => tmp.find(_._1 == c).map(t => col(t._2).as(c)).getOrElse(col(c)))
    commitPatch(table, del = Some(old), add = Some(staged.select(out: _*)))
  }

  /** Keyed MOR resolution joins / distincts ON the key columns, and
    * Spark cannot compare maps in join keys or grouping — a keyed
    * delta over a map-typed KEY would commit a version the resolver
    * can never analyze (bricked head). Refuse at commit time with the
    * same actionable shape the Iceberg export uses. Non-key map
    * columns are fine: resolution passes them through untouched, and
    * the content-addressed patch path canonicalizes them
    * ([[graft.core.MapSafeSetOps]]). */
  private def requireJoinableKeys(df: DataFrame, keyCols: Seq[String], op: String): Unit = {
    val mapped = df.schema.fields
      .filter(f => keyCols.contains(f.name) && graft.core.MapSafeSetOps.hasMap(f.dataType))
      .map(_.name)
    require(mapped.isEmpty,
      s"$op cannot key on map-typed column(s) ${mapped.mkString(", ")} — maps are not " +
        "comparable in joins; key on a scalar id or use map_entries-derived columns")
  }

  /** Stage-and-commit one delta version whose dir holds a single
    * frame. Base fencing: the commit fails (ConcurrentCommitException)
    * if any writer committed since `base` was read — a delta recorded
    * against a base that is no longer the predecessor would corrupt
    * resolution. */
  private def commitDelta(table: String, df: DataFrame, kind: String, keyCols: Seq[String],
      txnId: Option[String], withLayout: Boolean, manifest: Boolean): Unit = {
    val base = currentVersion(table)
    val (df1, pcols) =
      if (withLayout) withTableLayout(df, table, Nil) else (df, Seq.empty[String])
    val tableSchema = read(table).schema
    val (schema, ofFiles) = if (withLayout) deltaSchema(tableSchema, df1) else (tableSchema, false)
    val (mStats, mSketch) =
      if (!manifest) (Nil, Nil)
      else (statsColsFor(table), sketchColsFor(table))
    commitVersion(
      table,
      stage = stageWrite(df1, pcols, _),
      // record the INHERITED identity layout so the next commit's
      // layout inheritance reads through delta heads unchanged
      partitionCols1 = if (withLayout) pcols else currentPartitionCols(table),
      schemaJson = schema.json,
      commit = VersionMeta(0, kind, base, keyCols, txn = checkedTxn(txnId), schemaOfFiles = ofFiles),
      expectedNext = Some(base + 1),
      afterWin = () => (),
      manifestStats = mStats,
      manifestSketch = mSketch)
    ()
  }

  /** Stage-and-commit one patch version: `del/` and `add/` subdirs
    * (either may be absent when its side is empty — an empty parquet
    * write leaves no data files and resolution skips it). */
  private def commitPatch(table: String, del: Option[DataFrame], add: Option[DataFrame]): Unit = {
    val base = currentVersion(table)
    commitVersion(
      table,
      stage = tmp => {
        // the two sides are independent tiny write jobs; overlapping
        // them on driver threads (guide §2.6) halves the staged-write
        // latency of every patch commit — Spark schedules concurrent
        // jobs from one session safely, and the dirs are disjoint
        (del, add) match {
          case (Some(d), Some(a)) =>
            import scala.concurrent.{Await, Future}
            import scala.concurrent.ExecutionContext.Implicits.global
            import scala.concurrent.duration.Duration
            val fd = Future(d.write.mode(SaveMode.Overwrite).parquet(new Path(tmp, "del").toString))
            val fa = Future(a.write.mode(SaveMode.Overwrite).parquet(new Path(tmp, "add").toString))
            Await.result(fd, Duration.Inf); Await.result(fa, Duration.Inf)
          case _ =>
            del.foreach(_.write.mode(SaveMode.Overwrite).parquet(new Path(tmp, "del").toString))
            add.foreach(_.write.mode(SaveMode.Overwrite).parquet(new Path(tmp, "add").toString))
        }
      },
      partitionCols1 = currentPartitionCols(table),
      schemaJson = read(table).schema.json,
      commit = VersionMeta(0, "mor_patch", base),
      expectedNext = Some(base + 1),
      afterWin = () => (),
      manifestStats = Nil,
      manifestSketch = Nil)
    ()
  }

  /** HIDDEN PARTITIONING (Iceberg's partition transforms): commit with
    * partition values DERIVED from data columns — days(ts),
    * bucket(n, key), truncate(len, s) — without the caller
    * materializing or ever seeing a partition column. The derived
    * `__p_*` columns exist only in the directory layout: [[read]]/
    * [[readVersion]] conceal them, so queries are written against the
    * source columns alone, and [[readPartitionRange]] turns a source-
    * column range back into partition-directory pruning (the
    * predicate-rewrite half of hidden partitioning).
    *
    * DML note: rewrite paths (merge/delete/compact/optimize) re-commit
    * through the plain overwrite and therefore drop the hidden layout;
    * re-apply it by routing the rewrite through this method — derived
    * values are pure functions of the data, so the layout is always
    * recomputable. */
  def overwriteTableTransformed(df: DataFrame, table: String,
      transforms: Seq[SnapshotTables.PartitionTransform],
      statsCols: Seq[String] = Nil, sketchCols: Seq[String] = Nil): Unit = {
    require(transforms.nonEmpty, "need at least one partition transform")
    val withP = transforms.foldLeft(df)((d, t) => d.withColumn(t.name, t.expr))
    overwriteTable(withP, table, transforms.map(_.name), statsCols, sketchCols)
    // the transform spec is a table property (like stats/sketch cols):
    // every later PLAIN commit re-derives the layout from it, so
    // merge/delete/compact/optimize keep the hidden partitioning
    // without the caller re-threading the transforms
    setProp(table, Transforms, Some(transforms))
  }

  /** PARTITION-SPEC EVOLUTION (Iceberg's evolve-partitioning, a
    * metadata-only operation by design): replace the table's persisted
    * transform spec WITHOUT rewriting any data. Every commit from now
    * on derives the NEW hidden layout; every existing version keeps
    * the directory layout it was written with — reads are
    * layout-agnostic (resolution conceals `__p_*` everywhere), and
    * [[readPartitionRange]]/[[readPartitionValues]] already handle
    * mixed layouts per segment: directories written under the queried
    * transform prune, directories written under another spec fall back
    * to a row filter on the re-derived transform value — correct
    * either way, and pruning coverage grows as old versions age out or
    * OPTIMIZE rewrites them under the new spec. Pass Nil to drop
    * hidden partitioning entirely. The spec is validated against the
    * table's current columns so a typo fails here, not at the next
    * commit. */
  def evolvePartitioning(table: String,
      transforms: Seq[SnapshotTables.PartitionTransform]): Unit =
    setValid(table, Transforms, Some(transforms))

  /** ROLLBACK: re-commit a retained version's content as the NEW
    * current version (Iceberg's rollback semantics on a forward-only
    * version line — the pointer is monotonic here, so undo is a new
    * commit, which keeps the bad version in history for audit and
    * keeps concurrent-writer fencing intact). The rolled-back state
    * re-enters the normal manifest/stats machinery, so pruned reads
    * work immediately. */
  def rollback(table: String, toVersion: Int, partitionCols: Seq[String] = Nil): Unit = {
    require(history(table).contains(toVersion),
      s"version $toVersion of $table is not retained — cannot roll back to it")
    overwriteTable(readVersion(table, toVersion), table, partitionCols)
  }

  /** Multiset row diff between two retained versions — the CDC feed
    * the snapshot model supports without delta files: an incremental
    * consumer reads `diff(t, lastSeen, current)` instead of re-scanning
    * the table. Returns every row with `__change` = 'insert' (in `toV`
    * only) or 'delete' (in `fromV` only); an update surfaces as
    * delete+insert. exceptAll keeps duplicate multiplicity honest and
    * shuffles on the full row like any set difference — both sides
    * prune columns/partitions as normal parquet scans. */
  def diff(table: String, fromV: Int, toV: Int): DataFrame = {
    import org.apache.spark.sql.functions.lit
    // O(delta) fast paths — the CDC cost model that survives 100 TB:
    // a single delta step diffs from its own segment (plus at most one
    // base scan), and an all-append range is just its segments as
    // inserts. Exact multiset semantics in both cases (proof sketch in
    // [[stepDiffFast]]); anything else falls back to the generic
    // two-resolution exceptAll.
    val fast: Option[DataFrame] =
      if (toV == fromV + 1) stepDiffFast(table, toV)
      else if (toV > fromV + 1 && (fromV + 1 to toV).forall { v =>
        // each step must be a plain append whose base IS the previous
        // version (a re-based fold segment REPEATS earlier segments'
        // rows — double-counting), or a content-preserving fold
        // commit, which contributes nothing and is skipped below. A
        // metadata-only schema evolution IS an (empty) append and
        // passes; cdcAligned below null-fills across an additive one
        // and raises loudly on a destructive one — Delta CDF semantics.
        val m = try Some(versionMeta(table, v)) catch { case _: Exception => None }
        m.exists(x => x.fold || (x.kind == "append" && x.base == v - 1))
      }) {
        // to = from ⊎ seg₁ ⊎ … ⊎ segₖ  ⇒  to∖from = ⊎segᵢ, from∖to = ∅
        val to = readVersion(table, toV)
        val segs = (fromV + 1 to toV).map(versionMeta(table, _))
          .filterNot(_.fold)
          .flatMap(dirsOf(table, _)).map(_.rows)
        Some(segs.reduceOption(_.unionByName(_, allowMissingColumns = true))
          .map(u => cdcAligned(u, to, table, fromV, toV))
          .getOrElse(to.where(lit(false)))
          .withColumn("__change", lit("insert")))
      } else None
    fast.getOrElse {
      val to = readVersion(table, toV)
      val from = cdcAligned(readVersion(table, fromV), to, table, fromV, toV)
      graft.core.MapSafeSetOps.exceptAll(to, from).withColumn("__change", lit("insert"))
        .unionByName(graft.core.MapSafeSetOps.exceptAll(from, to).withColumn("__change", lit("delete")))
    }
  }

  /** Align a CDC diff's FROM side to the TO side's schema across a
    * metadata-only schema evolution — Delta CDF's contract: an
    * ADDITIVE step (every from-column survives with an identical
    * type; new columns appended) null-fills pre-evolution rows in the
    * added columns; a DESTRUCTIVE step (drop / rename / type change)
    * fails LOUDLY — silently reporting "no changes" (or changes under
    * the wrong shape) would corrupt every downstream consumer. */
  private def cdcAligned(from: DataFrame, to: DataFrame,
      table: String, fromV: Int, toV: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    if (from.columns.toSeq == to.columns.toSeq &&
        from.schema.fields.map(_.dataType).toSeq == to.schema.fields.map(_.dataType).toSeq)
      return from
    val toS = to.schema
    val additive = from.schema.fields.forall(f =>
      toS.fields.exists(g => g.name == f.name && g.dataType == f.dataType))
    require(additive,
      s"CDC cannot cross a destructive schema change on $table between v$fromV and v$toV " +
        s"(from [${from.columns.mkString(",")}] to [${to.columns.mkString(",")}]): columns " +
        "were dropped, renamed or re-typed — read the versions directly instead")
    from.select(toS.fields.toSeq.map { f =>
      if (from.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** O(delta) MULTISET diff of one version STEP (base → v), computed
    * from the version's own delta segment. Exactness, per kind (⊎/∖
    * are multiset union/difference; `to = state(v)`, `from =
    * state(base)`):
    *  - append:     to = from ⊎ seg          ⇒ to∖from = seg, from∖to = ∅
    *  - mor_patch:  to = (from ∖ del) ⊎ add, del ⊑ from (del was
    *                computed FROM `from`)     ⇒ to∖from = add ∖ del,
    *                from∖to = del ∖ add — both O(delta), no base scan
    *  - mor_delete: to = from ∖ (from ⋉ keys) ⇒ from∖to = from ⋉ keys
    *                (ONE base scan, key-semi join), to∖from = ∅
    *  - mor_upsert: to = (from ∖ touched) ⊎ up, touched = from ⋉ keys
    *                ⇒ to∖from = up ∖ touched, from∖to = touched ∖ up
    *                (ONE base scan; the exceptAlls are delta-sized)
    * None for full commits (no delta to read from). */
  private[graft] def stepDiffFast(table: String, v: Int): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{col, lit}
    val m = try versionMeta(table, v) catch { case _: Exception => return None }
    def ins(df: DataFrame) = df.withColumn("__change", lit("insert"))
    def del(df: DataFrame) = df.withColumn("__change", lit("delete"))
    def emptyDiff = ins(readVersion(table, v).where(lit(false)))
    def aligned(df: DataFrame, to: DataFrame) = df.select(to.columns.toSeq.map(col): _*)
    // a fold commit (minor compaction) is content-preserving BY
    // CONSTRUCTION — its step diff is empty, at zero scans
    if (m.fold) return Some(emptyDiff)
    // a schema-evolution step commits NO rows ([[commitSchemaEvolution]]
    // stages an empty dir): under Delta CDF semantics an ADDITIVE
    // evolution (ADD COLUMN) emits no change rows — empty diff, in the
    // NEW schema, at zero scans. A destructive one (DROP/re-type)
    // falls to the generic path, where [[cdcAligned]] raises loudly.
    if (m.schemaEvolved) return Option.when(additiveEvolution(table, m))(emptyDiff)
    // every per-kind proof below assumes the step's meta base IS the
    // preceding version; a re-based segment (fold without the marker —
    // defensive) must take the generic two-resolution path
    if (m.kind != "full" && m.base != v - 1) return None
    lazy val own = dirsOf(table, m)
    m.kind match {
      case "append" =>
        Some(rowsOf(own).map(ins).getOrElse(emptyDiff))
      case "mor_patch" =>
        (rowsOf(own, "del"), rowsOf(own, "add")) match {
          case (None, None) => Some(emptyDiff)
          case (None, Some(a)) => Some(ins(a))
          case (Some(d), None) => Some(del(d))
          case (Some(d), Some(a)) =>
            Some(ins(graft.core.MapSafeSetOps.exceptAll(a, aligned(d, a)))
              .unionByName(del(graft.core.MapSafeSetOps.exceptAll(d, aligned(a, d)))))
        }
      case "mor_delete" =>
        rowsOf(own) match {
          case None => Some(emptyDiff)
          case Some(k) =>
            val keys = k.select(m.keyCols.map(col): _*).distinct()
            Some(del(readVersion(table, m.base).join(keys, m.keyCols, "left_semi")))
        }
      case "mor_upsert" =>
        rowsOf(own) match {
          case None => Some(emptyDiff)
          case Some(u) =>
            val keys = u.select(m.keyCols.map(col): _*).distinct()
            val touched = readVersion(table, m.base).join(keys, m.keyCols, "left_semi")
            Some(ins(graft.core.MapSafeSetOps.exceptAll(u, aligned(touched, u)))
              .unionByName(del(graft.core.MapSafeSetOps.exceptAll(touched, aligned(u, touched)))))
        }
      case _ => None
    }
  }

  /** Key-classified diff: with unique `keyCols`, resolves the raw
    * multiset diff into insert / update / delete per key (a delete+
    * insert pair on one key is reported once, as an update with both
    * images). Output: keyCols, __change, __old struct, __new struct. */
  def diffKeyed(table: String, fromV: Int, toV: Int, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "diffKeyed needs key columns")
    import org.apache.spark.sql.functions._
    val fast = if (toV == fromV + 1) stepDiffKeyedFast(table, toV, keyCols) else None
    fast.getOrElse {
      val to = readVersion(table, toV)
      // additive schema evolution in the range: pre-evolution rows
      // null-fill the added columns (Delta CDF); destructive raises
      val from = cdcAligned(readVersion(table, fromV), to, table, fromV, toV)
      val rest = to.columns.filterNot(keyCols.contains).toSeq
      def packed(df: DataFrame, as: String) =
        df.select(keyCols.map(col) :+ struct(rest.map(col): _*).as(as): _*)
      packed(from, "__old")
        .join(packed(to, "__new"), keyCols, "full_outer")
        .withColumn("__change",
          when(col("__old").isNull, "insert")
            .when(col("__new").isNull, "delete")
            .when(!(col("__old") <=> col("__new")), "update"))
        .filter(col("__change").isNotNull)
    }
  }

  /** O(delta) KEYED diff of one version step — [[stepDiffFast]]'s
    * sibling under diffKeyed's unique-key contract. Output shape is
    * identical to the generic path (keyCols…, __old, __new, __change):
    *  - append:     every segment row is an insert (a key appended
    *                over an existing one violates the keyed contract —
    *                exactly as it corrupts the generic full-outer)
    *  - mor_patch:  del(old images) ⟗ add(new images) on the keys —
    *                delete / insert / update classified with NO base
    *                scan at all
    *  - mor_delete: base ⋉ keys → deletes with their __old images
    *                (one base scan); requires the step's own key
    *                columns to match the requested ones
    *  - mor_upsert: (base ⋉ keys) ⟗ up → update/insert (an upsert
    *                never deletes); same key-match requirement
    * None otherwise (full commits; key mismatch). */
  private[graft] def stepDiffKeyedFast(table: String, v: Int, keyCols: Seq[String]): Option[DataFrame] = {
    import org.apache.spark.sql.functions._
    val m = try versionMeta(table, v) catch { case _: Exception => return None }
    if (m.kind == "full") return None
    val to = readVersion(table, v)
    val cols = to.columns.toSeq
    if (!keyCols.forall(cols.contains)) return None
    val rest = cols.filterNot(keyCols.contains)
    def packed(df: DataFrame, as: String) =
      df.select(keyCols.map(col) :+ struct(rest.map(col): _*).as(as): _*)
    val structDt = to.select(struct(rest.map(col): _*)).schema.head.dataType
    def nul(as: String) = lit(null).cast(structDt).as(as)
    // the classified diff's shape, with no rows
    def noChange = to.where(lit(false))
      .select(keyCols.map(col) :+ nul("__old") :+ nul("__new"): _*)
      .withColumn("__change", lit("insert"))
    def classify(joined: DataFrame) = joined
      .withColumn("__change",
        when(col("__old").isNull, "insert")
          .when(col("__new").isNull, "delete")
          .when(!(col("__old") <=> col("__new")), "update"))
      .filter(col("__change").isNotNull)
    // fold commits are content-preserving: empty classified diff, zero
    // scans; any other re-based segment (defensive) → generic path
    if (m.fold) return Some(noChange)
    // additive evolution step: no rows committed, no change rows
    // (Delta CDF) — empty classified diff in the new schema; a
    // destructive step falls to the generic path's loud cdcAligned
    if (m.schemaEvolved) return Option.when(additiveEvolution(table, m))(noChange)
    if (m.base != v - 1) return None
    val own = dirsOf(table, m)
    m.kind match {
      case "append" =>
        Some(rowsOf(own).fold(noChange)(seg => packed(seg, "__new")
          .select((keyCols.map(col) :+ nul("__old")) :+ col("__new"): _*)
          .withColumn("__change", lit("insert"))))
      case "mor_patch" =>
        val d = rowsOf(own, "del").map(packed(_, "__old"))
        val a = rowsOf(own, "add").map(packed(_, "__new"))
        (d, a) match {
          case (None, None) => Some(noChange)
          case (Some(dd), None) =>
            Some(dd.select((keyCols.map(col) :+ col("__old")) :+ nul("__new"): _*)
              .withColumn("__change", lit("delete")))
          case (None, Some(aa)) =>
            Some(aa.select((keyCols.map(col) :+ nul("__old")) :+ col("__new"): _*)
              .withColumn("__change", lit("insert")))
          case (Some(dd), Some(aa)) => Some(classify(dd.join(aa, keyCols, "full_outer")))
        }
      case "mor_delete" if m.keyCols == keyCols =>
        Some(rowsOf(own).fold(noChange) { k =>
          val keys = k.select(keyCols.map(col): _*).distinct()
          packed(readVersion(table, m.base).join(keys, keyCols, "left_semi"), "__old")
            .select((keyCols.map(col) :+ col("__old")) :+ nul("__new"): _*)
            .withColumn("__change", lit("delete"))
        })
      case "mor_upsert" if m.keyCols == keyCols =>
        Some(rowsOf(own).fold(noChange) { u =>
          val keys = u.select(keyCols.map(col): _*).distinct()
          val touched = readVersion(table, m.base).join(keys, keyCols, "left_semi")
          classify(packed(touched, "__old").join(packed(u, "__new"), keyCols, "full_outer"))
        })
      case _ => None
    }
  }

  /** Whether schema-evolution step `m` only added columns: every column
    * of its base keeps its name and type. */
  private def additiveEvolution(table: String, m: VersionMeta): Boolean =
    (for {
      fromS <- versionDataSchema(table, m.base)
      toS <- versionDataSchema(table, m.v)
    } yield fromS.fields.forall(f => toS.fields.exists(g => g.name == f.name && g.dataType == f.dataType)))
      .getOrElse(false)


  // ------------------------------------------------------------------
  // Branches — the write-audit-publish (WAP) pattern on the snapshot
  // model (Iceberg's branch/fast-forward semantics, public knowledge):
  // stage commits on an isolated ref, audit them with any reader, then
  // publish atomically to main — or drop the branch and nothing ever
  // happened. A branch is its OWN nested version line under
  // <table>/branches/<name>/, so every mechanism of this class
  // (fenced CAS commits, manifests, retention, time travel) applies
  // verbatim on the branch; main's version line never even sees branch
  // snapshots, so the max(pointer, history) current-version invariant
  // holds untouched. Forking is zero-copy (the ref records main's
  // current version as its base; an uncommitted branch reads that
  // version), and publish is one fenced CAS on main that adopts the
  // branch head's pool dir by reference: no data byte moves.
  // ------------------------------------------------------------------

  private def refsDir(table: String) = new Path(metaDir(table), "refs")
  private def refPath(table: String, branch: String) = new Path(refsDir(table), branch)

  /** Branch commits live in a nested table rooted at
    * <table>/branches/, named after the branch. Branch commits write
    * their data into the PARENT table's pool, so a
    * published (adopted-by-reference) dir survives dropBranch and
    * unpublished dirs fall to the reachability sweep. */
  private def branchTables(table: String): SnapshotTables =
    new SnapshotTables(spark, new Path(tableDir(table), "branches").toString,
      previousVersionsMax, orphanGraceMs, heartbeatMs, sketchBits, sketchHashes,
      dataPoolRoot = Some(dataPoolDir(table).toString))

  /** The nested branch store — the V2 catalog's seam for SQL branch
    * reads (`VERSION AS OF '<branch>'` scans the branch's latest
    * commit through the same table implementation main uses). */
  private[graft] def branchTablesFor(table: String): SnapshotTables = branchTables(table)

  private def requireBranchName(branch: String): Unit =
    require(branch.nonEmpty && !branch.contains('/') && !branch.startsWith("."),
      s"invalid branch name '$branch'")

  /** Fork a branch at main's current version. Zero-copy: only the ref
    * file is written (exclusive create — racing creators get one
    * winner). The base version is protected from retention for the
    * branch's lifetime. */
  def createBranch(table: String, branch: String): Unit = {
    requireBranchName(branch)
    val base = currentVersion(table)
    require(base > 0, s"table $table has no committed version to branch from")
    val inherited = propsOf(SnapshotTables.ForkedProps, table)
    if (!createExclusive(refPath(table, branch), RefFile.render("base", base)))
      throw new IllegalStateException(s"branch '$branch' already exists on table '$table'")
    // Table properties cross the fork seam: the branch starts with
    // main's (SnapshotTables.ForkedProps), so branch commits keep the
    // manifests, directory layout, sort order and DML strategy main
    // has (without this, a branch commit on a sorted,
    // stats-maintained or hidden-partitioned table would silently stage
    // unsorted files, drop the manifest and flatten the layout).
    branchTables(table).setProps(branch, inherited)
  }

  /** The main version the branch forked from. */
  def branchBase(table: String, branch: String): Int = {
    val p = refPath(table, branch)
    require(fs(p).exists(p), s"no branch '$branch' on table '$table'")
    readRef(p, "base")
  }

  /** A branch ref's or tag's version. A torn or unreadable file throws
    * an IllegalStateException naming it. */
  private def readRef(p: Path, field: String): Int =
    try RefFile.parse(field, readSmallFile(p))
    catch { case e: Exception =>
      throw new IllegalStateException(s"unreadable ref file $p: ${e.getMessage}", e) }

  // ------------------------------------------------------------------
  // TAGS (X116 — Iceberg's named immutable refs): a tag names ONE
  // retained version until dropped. Zero-copy (only the ref file is
  // written), version pinned forever: tagged versions are protected
  // from the retention pass AND age-based expire_snapshots for the
  // tag's lifetime, and `VERSION AS OF '<tag>'` resolves the tag in
  // SQL exactly like a branch name (branches shadow tags on a name
  // collision — a WAP audit must never silently read a stale pin).
  // Unlike a branch a tag takes no commits and needs no property
  // seam; dropping it releases the version to normal expiry.
  // ------------------------------------------------------------------

  private def tagsDir(table: String) = new Path(metaDir(table), "tags")
  private def tagPath(table: String, tag: String) = new Path(tagsDir(table), tag)

  /** Tag `version` (default: the current one). Numeric names are
    * refused — numbers always mean versions in time travel, so a
    * numeric tag would be unreachable. */
  def createTag(table: String, tag: String, version: Option[Int] = None): Unit = {
    requireBranchName(tag)
    require(tag.stripPrefix("v").toIntOption.isEmpty,
      s"tag name '$tag' would be unreachable — numeric names mean versions in time travel")
    val v = version.getOrElse(currentVersion(table))
    require(history(table).contains(v),
      s"version $v of table '$table' is not retained — cannot tag it")
    if (!createExclusive(tagPath(table, tag), RefFile.render("version", v)))
      throw new IllegalStateException(s"tag '$tag' already exists on table '$table'")
  }

  /** The version a tag pins. */
  def tagVersion(table: String, tag: String): Int = {
    val p = tagPath(table, tag)
    require(fs(p).exists(p), s"no tag '$tag' on table '$table'")
    readRef(p, "version")
  }

  /** Live (tag, version) pairs, sorted by name. */
  def tags(table: String): Seq[(String, Int)] = {
    val d = tagsDir(table)
    val f = fs(d)
    if (!f.exists(d)) Nil
    else f.listStatus(d).toSeq.map(_.getPath.getName).filterNot(_.startsWith("."))
      .sorted.map(t => (t, tagVersion(table, t)))
  }

  /** Drop a tag — the pinned version returns to normal expiry. */
  def dropTag(table: String, tag: String): Unit = {
    requireBranchName(tag)
    val p = tagPath(table, tag)
    require(fs(p).exists(p), s"no tag '$tag' on table '$table'")
    fs(p).delete(p, false)
    ()
  }

  /** Live branches of a table. */
  def branches(table: String): Seq[String] = {
    val d = refsDir(table)
    val f = fs(d)
    if (!f.exists(d)) Nil
    else f.listStatus(d).toSeq.map(_.getPath.getName).filterNot(_.startsWith(".")).sorted
  }

  /** Audit-side read: the branch's latest commit, or its base version
    * when nothing was committed yet (zero-copy fork). */
  def readBranch(table: String, branch: String): DataFrame = {
    val bv = branchTables(table).currentVersion(branch)
    if (bv > 0) branchTables(table).read(branch)
    else readVersion(table, branchBase(table, branch))
  }

  /** Overwrite-commit onto the branch (isolated from main; same
    * multi-writer CAS semantics as any commit). */
  def commitToBranch(table: String, branch: String, df: DataFrame,
      partitionCols: Seq[String] = Nil, statsCols: Seq[String] = Nil,
      sketchCols: Seq[String] = Nil): Unit = {
    branchBase(table, branch) // existence check
    branchTables(table).overwriteTable(df, branch, partitionCols, statsCols, sketchCols)
  }

  /** Upsert-commit onto the branch: updates replace branch rows by
    * key on top of the branch's CURRENT view (which is the base
    * version until the first branch commit). */
  def mergeToBranch(table: String, branch: String, updates: DataFrame, keyCols: Seq[String],
      partitionCols: Seq[String] = Nil): Unit = {
    require(keyCols.nonEmpty, "mergeToBranch needs key columns")
    val keys = updates.select(keyCols.map(org.apache.spark.sql.functions.col): _*).distinct()
    val merged = readBranch(table, branch).join(keys, keyCols, "left_anti").unionByName(updates)
    commitToBranch(table, branch, merged, partitionCols)
  }

  /** Append-commit onto the branch — the O(delta) staging path of the
    * WAP flow (a multi-load audit session appends each load without
    * rewriting the branch). The branch's FIRST commit materializes the
    * base version plus the delta (the branch version line cannot
    * delta-chain into MAIN's line — publish adopts one pool dir);
    * later appends are true delta commits on the branch, and
    * [[publish]] materializes a delta-headed branch first. */
  def appendToBranch(table: String, branch: String, df: DataFrame): Unit = {
    val bt = branchTables(table)
    if (bt.currentVersion(branch) == 0)
      commitToBranch(table, branch, readBranch(table, branch).unionByName(df))
    else bt.append(df, branch)
  }

  /** The audit tool of the WAP flow: what WOULD publishing this branch
    * change on main? Keyed diff of main's CURRENT content against the
    * branch's — (keyCols, __change ∈ insert/update/delete, __old,
    * __new) rows, same shape as [[diffKeyed]]. Review the delta (or
    * run [[graft.operators.Checks]] over it) before deciding to
    * publish or drop. */
  def branchDiff(table: String, branch: String, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "branchDiff needs key columns")
    import org.apache.spark.sql.functions._
    val from = read(table)
    val rest = from.columns.filterNot(keyCols.contains).toSeq
    def packed(df: DataFrame, as: String) =
      df.select(keyCols.map(col) :+ struct(rest.map(col): _*).as(as): _*)
    packed(from, "__old")
      .join(packed(readBranch(table, branch), "__new"), keyCols, "full_outer")
      .withColumn("__change",
        when(col("__old").isNull, "insert")
          .when(col("__new").isNull, "delete")
          .when(!(col("__old") <=> col("__new")), "update"))
      .filter(col("__change").isNotNull)
  }

  /** Discard the branch: ref and every branch snapshot are deleted;
    * main never learns the branch existed. Direct-layout branch
    * commits keep their data in the PARENT pool, outside this subtree
    * — a published dir stays reachable from main's meta; unpublished
    * dirs become unreachable debris for [[removeOrphans]]' sweep. */
  def dropBranch(table: String, branch: String): Unit = {
    requireBranchName(branch)
    val p = refPath(table, branch)
    fs(p).delete(p, false)
    val bd = new Path(new Path(tableDir(table), "branches"), branch)
    fs(bd).delete(bd, true)
  }

  /** PUBLISH the audited branch to main — the fast-forward of WAP.
    * Succeeds only when main still sits at the branch's base version
    * (the audited state is exactly what main becomes); a main commit
    * since the fork raises [[SnapshotTables.ConcurrentCommitException]]
    * — re-audit on a fresh branch rather than silently dropping the
    * concurrent change. Main's new meta is the branch head's, carrying
    * its `data_dir` — a dir in THIS table's pool (branch commits write
    * into main's pool), so publish
    * is adoption by reference: zero data bytes move, the fenced CAS is
    * the entire commit, and the head's stats/sketch manifest moves
    * beside it. Publishing retires the branch; the adopted dir is then
    * reachable from main's meta, and the reachability guard
    * (dropVersion / removeOrphans) protects it for main's retention
    * lifetime. Returns main's new version. */
  def publish(table: String, branch: String): Int = {
    val base = branchBase(table, branch)
    val bt = branchTables(table)
    val bv0 = bt.currentVersion(branch)
    require(bv0 > 0, s"branch '$branch' has no commits to publish")
    // read before the commit: once it lands, nothing may fail publish
    val published = bt.propsOf(SnapshotTables.PublishedProps, branch)
    // A head that is not one pool dir is rewritten ON THE BRANCH first:
    // a delta dir alone is meaningless without its chain (whose base
    // lives in the branch's version line and would be dropped with the
    // branch), and a head written before the pool layout lives under
    // the branch's own `snapshots/`, which dropBranch deletes.
    val chain = bt.chainOf(branch, bv0)
    if (chain.length > 1 || chain.head.dataDir.isEmpty) bt.rewriteHead(branch, bv0)
    val bv = bt.currentVersion(branch)
    val cur = currentVersion(table)
    if (cur != base) throw new SnapshotTables.ConcurrentCommitException(table, cur + 1)
    val next = cur + 1
    val bMeta = bt.versionMeta(branch, bv)
    val writerId = java.util.UUID.randomUUID.toString
    if (!casWithOrphanReclaim(table, next, metaPath(table, next), bMeta.copy(v = next, writer = writerId).render))
      throw new SnapshotTables.ConcurrentCommitException(table, next)
    val bmf = bt.manifestPath(branch, bv)
    if (fs(bmf).exists(bmf)) fs(bmf).rename(bmf, manifestPath(table, next))
    // Properties cross the publish seam too: stats/sketch columns, the
    // transform spec and the write mode the audited branch carried
    // (seeded at fork, possibly changed by branch commits) become
    // main's (SnapshotTables.PublishedProps), so every later main
    // commit keeps maintaining them — the published version's manifest
    // and layout stay live, not a one-off.
    setProps(table, published)
    advancePointer(table, next)
    expire(table, next)
    dropBranch(table, branch)
    next
  }

  /** Base versions still referenced by live branches — retention must
    * not expire them while an uncommitted branch can still read them.
    * TAGGED versions (X116) are ref-protected the same way — a tag is
    * a promise the version stays readable until the tag is dropped.
    * Only a branch dropped since the listing is skipped; a ref that
    * cannot be read throws (see [[readRef]]) rather than expose its
    * base. */
  private def branchProtectedVersions(table: String): Set[Int] =
    branches(table).flatMap { b =>
      val p = refPath(table, b)
      if (fs(p).exists(p)) Some(readRef(p, "base")) else None
    }.toSet ++
      tags(table).map(_._2)

  /** The table's standing row-level-DML strategy — "cow" (default:
    * DELETE/UPDATE rewrite into a full snapshot) or "mor" (they commit
    * O(changed) patch versions, [[deleteWhereMor]]/[[updateMor]]). A
    * table property like stats/sketch columns: SQL DML through the
    * catalog consults it, so `ALTER`-ing a 100 TB table to "mor" flips
    * every later DELETE/UPDATE from O(table) to O(changed) writes. */
  def writeMode(table: String): String = setting(table, WriteMode).get

  def setWriteMode(table: String, mode: String): Unit = setValid(table, WriteMode, Some(mode))

  /** The table's standing WRITE SORT ORDER (Iceberg's sort-order table
    * property): columns every data-staging commit sorts by WITHIN each
    * write task before the parquet write — no extra shuffle, but each
    * file's [min,max] on these columns becomes a tight run instead of
    * spanning the whole domain, so the per-file stats manifest
    * actually skips files on range predicates ([[readPruned]]). Set it
    * once and full snapshots, appends AND merge-on-read delta segments
    * all keep the property — the difference between a streaming
    * append chain whose files prune and one whose files all intersect
    * every probe. */
  def sortOrder(table: String): Seq[String] = prop(table, SortOrder).getOrElse(Nil)

  /** The table's standing STATS COLUMNS — the columns every data
    * commit writes a per-file [min,max,nulls,rows] manifest over
    * (Iceberg records column bounds in its manifests the same way).
    * Persisted table metadata: set once (TBLPROPERTY
    * `graft.stats.columns`, or any commit's explicit `statsCols`),
    * every later commit keeps maintaining the manifest. */
  def statsColsFor(table: String): Seq[String] = prop(table, StatsCols).getOrElse(Nil)

  /** Set (or with Nil clear) the standing stats columns. Validated
    * when the schema is known; applies to every LATER commit (existing
    * versions keep whatever manifest they committed with). */
  def setStatsCols(table: String, cols: Seq[String]): Unit = setValid(table, StatsCols, Some(cols))

  /** The table's standing SKETCH COLUMNS — per-file Bloom membership
    * sketches maintained alongside the range stats, the point-lookup
    * half of file skipping ([[readPrunedIn]]). */
  def sketchColsFor(table: String): Seq[String] = prop(table, SketchCols).getOrElse(Nil)

  /** Set (or with Nil clear) the standing sketch columns — same
    * contract as [[setStatsCols]]. */
  def setSketchCols(table: String, cols: Seq[String]): Unit = setValid(table, SketchCols, Some(cols))

  /** Set (or with Nil clear) the standing write sort order. Columns
    * are validated when known; the sort applies to every LATER commit
    * (existing files keep their layout until rewritten — same
    * metadata-only contract as [[evolvePartitioning]]). */
  def setSortOrder(table: String, cols: Seq[String]): Unit = setValid(table, SortOrder, Some(cols))

  /** (branch, forked-from main version, branch commits) for every live
    * branch — the data behind the `<table>.refs` metadata table
    * (Iceberg's refs relation). Branch count is operator-bounded;
    * driver-sized by construction. */
  def branchRefs(table: String): Seq[(String, Int, Int)] =
    branches(table).map { b =>
      (b, branchBase(table, b), branchTables(table).currentVersion(b))
    }

  /** TableFormat read side — pipeline SQL resolves against the current
    * snapshot instead of a catalog entry. */
  override def read(spark: SparkSession, table: String): DataFrame = read(table)

  /** METADATA-ONLY ADD COLUMN (Iceberg's schema evolution, a pure
    * metadata operation by design — the COW alternative rewrites the
    * WHOLE table to add a column of nulls, an O(table) cliff at
    * 100 TB): commits one EMPTY version whose declared schema carries
    * the new nullable column; every read of this and later versions
    * null-fills it until real values arrive, prior versions keep their
    * narrower schema. While the chain carries an evolution segment,
    * reads route through the resolved path (fast multi-dir/pruned
    * scans would expose raw file schemas) — a materialize/compact/
    * optimize (or any full commit) re-aligns files and restores every
    * fast path. */
  def addColumn(table: String, name: String, dataType: org.apache.spark.sql.types.DataType): Unit = {
    require(currentVersion(table) > 0, s"table $table has no committed version")
    val s = read(table).schema
    require(!s.fieldNames.contains(name), s"column '$name' already exists on $table")
    // directory-partitioned convention: partition columns read LAST,
    // so the added column lands before them (same order the COW
    // evolution produced)
    val pcols = currentPartitionCols(table).toSet
    val (dataF, partF) = s.fields.partition(f => !pcols.contains(f.name))
    commitSchemaEvolution(table,
      org.apache.spark.sql.types.StructType((dataF :+
        org.apache.spark.sql.types.StructField(name, dataType, nullable = true)) ++ partF))
  }

  /** METADATA-ONLY DROP COLUMN — the projection dual of [[addColumn]]:
    * the declared schema stops naming the column and every read of
    * this and later versions projects it away (the bytes remain in
    * old files until a rewrite, exactly Iceberg's drop semantics).
    * Partition and transform-source columns are refused (layout
    * identity). */
  def dropColumn(table: String, name: String): Unit = {
    require(currentVersion(table) > 0, s"table $table has no committed version")
    val s = read(table).schema
    require(s.fieldNames.contains(name), s"no column '$name' on $table")
    require(s.fields.length > 1, "cannot drop the last column")
    require(!currentPartitionCols(table).contains(name), s"cannot drop partition column '$name'")
    require(!persistedTransforms(table).exists(_.srcCol == name),
      s"cannot drop '$name' — it is a partition-transform source column")
    require(!sortOrder(table).contains(name),
      s"cannot drop '$name' — it is in the write sort order (clear it first)")
    commitSchemaEvolution(table,
      org.apache.spark.sql.types.StructType(s.filterNot(_.name == name)))
  }

  private def commitSchemaEvolution(table: String, newSchema: org.apache.spark.sql.types.StructType): Unit = {
    val cur = currentVersion(table)
    ensureChainBudget(table)
    val base = currentVersion(table) // budget may have folded/materialized
    val _ = cur
    commitVersion(
      table,
      stage = tmp => { fs(tmp).mkdirs(tmp); () }, // an EMPTY version directory: pure metadata
      partitionCols1 = currentPartitionCols(table),
      schemaJson = newSchema.json,
      commit = VersionMeta(0, "append", base, schemaEvolved = true),
      expectedNext = Some(base + 1),
      afterWin = () => (),
      manifestStats = Nil,
      manifestSketch = Nil)
    ()
  }

  /** Compact the current snapshot into ~`targetFileBytes` files and
    * commit the result as a new version — the maintenance op an
    * incremental/streaming writer needs (many small commits → many
    * small parquet files → scan-split and open-cost overhead at scale).
    * Data is unchanged; readers of prior versions are unaffected.
    *
    * File count = ceil(bytes / target) via `repartition` (partitioned
    * tables repartition on the partition columns, so each Hive
    * partition directory compacts independently). */
  def compact(table: String, partitionCols: Seq[String] = Nil, targetFileBytes: Long = 128L << 20): Unit = {
    val cur = currentVersion(table)
    require(cur > 0, s"table $table has no committed version")
    val bytes = chainBytes(table, cur)
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val df = readVersion(table, cur)
    val compacted =
      if (partitionCols.nonEmpty)
        df.repartition(nFiles, partitionCols.map(org.apache.spark.sql.functions.col): _*)
      else df.repartition(nFiles)
    // content-preserving: pin the slot so a concurrent writer fails the
    // rewrite (ConcurrentCommitException) instead of being swallowed
    overwriteShaped(compacted, table, partitionCols, expectedNext = Some(cur + 1))
  }

  /** OPTIMIZE [ZORDER BY]: rewrite the current version's data into
    * ~`targetFileBytes` files, z-order-clustered on `zorderCols` with a
    * per-file stats manifest over them — compaction and multi-dim
    * clustering as ONE new committed version (the Delta/Iceberg
    * `OPTIMIZE … ZORDER BY` maintenance shape). Content is unchanged —
    * this is purely a layout rewrite; readers of prior versions are
    * unaffected, and subsequent [[readPrunedBox]] calls over the
    * clustered columns skip non-intersecting files. `statsCols`
    * defaults to the z-order columns; pass `zorderCols = Nil` for a
    * plain compaction with fresh stats. On an identity-partitioned
    * table the clustering is PER PARTITION ([[Sinks
    * .zorderClusterWithin]]): rows co-locate by the partition columns
    * and sort by (partition cols, z), so directory pruning and z-file
    * skipping compose — a global range partition would scatter each
    * directory across tasks and lose the z runs to the writer's own
    * partition re-sort. Hidden-transform layouts re-derive through the
    * shaped overwrite as always. */
  def optimize(
      table: String,
      zorderCols: Seq[String],
      targetFileBytes: Long = 128L << 20,
      statsCols: Seq[String] = Nil
  ): Unit = {
    val cur = currentVersion(table)
    require(cur > 0, s"table $table has no committed version")
    val bytes = chainBytes(table, cur)
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val df = readVersion(table, cur)
    val idCols =
      if (persistedTransforms(table).nonEmpty) Nil else currentPartitionCols(table)
    val rewritten =
      if (zorderCols.nonEmpty && idCols.nonEmpty)
        Sinks.zorderClusterWithin(df, idCols, zorderCols, nFiles)
      else if (zorderCols.nonEmpty) Sinks.zorderCluster(df, zorderCols, nFiles)
      else if (idCols.nonEmpty)
        df.repartition(nFiles, idCols.map(org.apache.spark.sql.functions.col): _*)
      else df.repartition(nFiles)
    val stats = if (statsCols.nonEmpty) statsCols else zorderCols
    // content-preserving: pin the slot so a concurrent writer fails the
    // rewrite (ConcurrentCommitException) instead of being swallowed
    overwriteShaped(rewritten, table, Nil, statsCols = stats, expectedNext = Some(cur + 1))
  }

  /** Total bytes across a version's chain segments — the sizing input
    * for compaction's file-count target (an upper bound on MOR chains:
    * deleted rows still occupy base bytes until the rewrite). */
  private def chainBytes(table: String, v: Int): Long =
    chainOf(table, v).map { s =>
      val d = dataDirOfMeta(table, s)
      fs(d).getContentSummary(d).getLength
    }.sum

  /** Per-TABLE retention override (Iceberg keeps expiry policy as
    * table properties): the number of predecessors kept behind the
    * current version — this table's value when set, the store-wide
    * `previousVersionsMax` otherwise. An override that does not parse
    * throws naming its file: falling back to the store default could
    * delete versions a larger override promised to keep. */
  def retentionFor(table: String): Int = setting(table, Retention).get

  /** Set (or with None clear) this table's retention window. Applies
    * from the NEXT commit's retention pass — nothing is expired here. */
  def setRetention(table: String, versions: Option[Int]): Unit =
    setValid(table, Retention, versions)

  /** Drop snapshots older than the retention window (keep the current
    * one plus [[retentionFor]] predecessors). */
  private def expire(table: String, current: Int): Unit = {
    // The commit has already landed: an unreadable ref must neither fail
    // it (a retry would commit twice) nor expose the version it protects,
    // so this pass expires nothing — kept conservatively, like an
    // unreadable meta in the chain walk below.
    val protectedV =
      try branchProtectedVersions(table) catch { case _: IllegalStateException => return }
    // an unreadable retention override: this pass expires nothing, too
    val keep = try retentionFor(table) catch { case _: IllegalStateException => return }
    val hist = history(table)
    // Delta-chain protection: every version a RETAINED version's chain
    // still walks through must outlive the window — expiring a chain's
    // full base would orphan every retained delta on top of it (the
    // current version included, when the head is a delta). The walk is
    // O(retained × chain length), metadata-sized.
    val chainProtected: Set[Int] =
      hist.filter(v => v >= current - keep || protectedV.contains(v))
        .flatMap { v =>
          try chainOf(table, v).map(_.v)
          catch { case _: Exception => Seq(v) } // unreadable meta: keep conservatively
        }.toSet
    hist.filter(v => v < current - keep && !protectedV.contains(v) &&
        !chainProtected.contains(v)).foreach(dropVersion(table, _))
  }

  /** Physically remove one version: data dir, metadata, manifest. The
    * data dir resolves through the version meta BEFORE the meta is
    * deleted; a write-once pool dir can be MULTIPLY referenced — publish adopts a branch commit's dir into main by
    * reference — so it is deleted only when no other retained meta,
    * main's or any branch's, still points at it (reachability, the
    * Iceberg GC model). */
  private def dropVersion(table: String, v: Int): Unit = {
    val vm = readMeta(table, v)
    val d = vm.fold(snapDir(table, v))(dataDirOfMeta(table, _))
    if (!vm.exists(_.dataDir.isDefined) || !poolDirReferenced(d, otherThan = Some(metaDir(table))))
      fs(d).delete(d, true)
    val m = metaPath(table, v)
    fs(m).delete(m, false)
    val mf = manifestPath(table, v)
    fs(mf).delete(mf, true)
  }

  /** Whether any retained version meta — the owning table's or any of
    * its branches' — records `d` as its data dir. The owning table dir
    * is the pool's parent (`<table>/data/<uuid>`), which holds for
    * main AND branch instances alike (branches write into the parent
    * table's pool). `otherThan` skips one version line's metadata dir:
    * within a line every commit writes a fresh pool dir, so only
    * another line can share a dir — main after a publish adopted it, or
    * the branch it was adopted from. O(metas of the other lines) small
    * reads, and only ever run for pool versions on their way out.
    * Unreadable metas count as references (never widen a delete on bad
    * reads). */
  private def poolDirReferenced(d: Path, otherThan: Option[Path]): Boolean = {
    val f = fs(d)
    val qualified = f.makeQualified(d).toString
    val skipped = otherThan.map(p => f.makeQualified(p).toString)
    val owner = d.getParent.getParent
    def metasUnder(md: Path): Seq[Path] =
      try {
        if (skipped.contains(f.makeQualified(md).toString) || !f.exists(md)) Nil
        else f.listStatus(md).toSeq.map(_.getPath)
          .filter(_.getName.matches("v\\d+\\.json"))
      } catch { case _: java.io.IOException => Nil }
    val branchMetas = {
      val bd = new Path(owner, "branches")
      try {
        if (!f.exists(bd)) Nil
        else f.listStatus(bd).toSeq.filter(_.isDirectory)
          .flatMap(b => metasUnder(new Path(b.getPath, "metadata")))
      } catch { case _: java.io.IOException => Nil }
    }
    val pool = new Path(owner, "data")
    (metasUnder(new Path(owner, "metadata")) ++ branchMetas).exists { p =>
      try parseMetaAt(p, p.getName.stripPrefix("v").stripSuffix(".json").toInt)
        .dataDir.exists(dd => f.makeQualified(SnapshotTables.inPool(pool, dd)).toString == qualified)
      catch { case _: java.io.IOException => true }
    }
  }

  /** ORPHAN-FILE removal (Iceberg's `remove_orphan_files`): delete
    * debris no commit references —
    *  - write-once POOL dirs referenced by no retained meta — main's or
    *    any branch's — older than `graceMs` and with no live heartbeat
    *    (a beating writer is stale only once 4 beats were missed):
    *    hard-crashed writers (a CAS loser deletes its own dir eagerly)
    *    and dropped branches' unpublished commits. This is
    *    reachability GC, exactly Iceberg's `remove_orphan_files`
    *    contract: debris waits for the procedure, never threatens a
    *    referenced file;
    *  - `snapshots/v<NNNNN>` dirs with no metadata file, older than
    *    `graceMs`: crash debris of tables written before the pool
    *    layout;
    *  - per-version stats manifests whose version metadata is gone
    *    (a crash inside the retention pass can drop the meta but not
    *    the manifest).
    * Returns (orphan dirs removed, orphan manifests removed). */
  def removeOrphans(table: String, graceMs: Long = 3600 * 1000L): (Int, Int) = {
    var dirsSwept = 0
    val pool = dataPoolDir(table)
    val pf = fs(pool)
    val now = System.currentTimeMillis
    if (pf.exists(pool))
      pf.listStatus(pool).foreach { s =>
        if (s.isDirectory) {
          // a fresh heartbeat marks a live pre-CAS write; no marker
          // falls back to dir mtime vs the grace window
          val hb = new Path(s.getPath, SnapshotTables.HeartbeatName)
          val hbMtime =
            try if (pf.exists(hb)) Some(pf.getFileStatus(hb).getModificationTime) else None
            catch { case _: java.io.IOException => None }
          val stale = hbMtime match {
            case Some(m) => now - m >= 4 * heartbeatMs
            case None => now - s.getModificationTime >= graceMs
          }
          if (stale && !poolDirReferenced(s.getPath, otherThan = None)) {
            pf.delete(s.getPath, true)
            dirsSwept += 1
          }
        }
      }
    val snaps = new Path(tableDir(table), "snapshots")
    val sf = fs(snaps)
    var dirs = 0
    if (sf.exists(snaps))
      sf.listStatus(snaps).foreach { s =>
        val n = s.getPath.getName
        if (s.isDirectory && n.startsWith("v") && n.drop(1).nonEmpty && n.drop(1).forall(_.isDigit)) {
          val v = n.drop(1).toInt
          val meta = metaPath(table, v)
          if (!fs(meta).exists(meta) &&
              System.currentTimeMillis - s.getModificationTime >= graceMs) {
            sf.delete(s.getPath, true)
            dirs += 1
          }
        }
      }
    var manifests = 0
    val md = metaDir(table)
    val mf = fs(md)
    if (mf.exists(md))
      mf.listStatus(md).foreach { s =>
        val n = s.getPath.getName
        if (n.matches("v\\d+-manifest\\.parquet")) {
          val v = n.stripPrefix("v").stripSuffix("-manifest.parquet").toInt
          val meta = new Path(md, f"v$v%05d.json")
          if (!mf.exists(meta)) {
            mf.delete(s.getPath, true)
            manifests += 1
          }
        }
      }
    (dirs + dirsSwept, manifests)
  }

  /** AGE-BASED snapshot expiry (Iceberg's `expire_snapshots(older_than,
    * retain_last)` — the count-based retention window can't express
    * "keep a week of history" when commit cadence varies). Expires
    * every retained version committed BEFORE `olderThanMillis`, except:
    * the newest `retainLast` versions, the current version, branch
    * bases, and every chain ancestor a surviving version still resolves
    * through (same protection the automatic retention pass applies —
    * expiring a chain's base would orphan the deltas on top of it).
    * An explicit maintenance call, not a policy: the per-commit
    * count-based window keeps running regardless. On a LOG-GOVERNED
    * catalog the same contract as the count window applies
    * ([[CommitLog]] scaladoc): keep the cutoff behind however far
    * back log readers reach — expiring a version an old log commit
    * pins invalidates that commit's reads, exactly like Iceberg
    * snapshot expiry invalidating old Nessie refs. Returns the number
    * of versions expired. */
  def expireSnapshots(table: String, olderThanMillis: Long, retainLast: Int = 1): Int = {
    require(retainLast >= 1, "retainLast must be at least 1")
    val cur = currentVersion(table)
    require(cur > 0, s"table $table has no committed version")
    val protectedV = branchProtectedVersions(table)
    val times = versionHistory(table).toMap
    val hist = history(table)
    val keepByCount = hist.sorted.takeRight(retainLast).toSet
    val keep = hist.filter(v => keepByCount.contains(v) || v == cur ||
      protectedV.contains(v) || times.get(v).forall(_ >= olderThanMillis)).toSet
    val chainProtected: Set[Int] = keep.flatMap { v =>
      try chainOf(table, v).map(_.v)
      catch { case _: Exception => Seq(v) } // unreadable meta: keep conservatively
    }
    val doomed = hist.filterNot(v => keep.contains(v) || chainProtected.contains(v))
    doomed.foreach(dropVersion(table, _))
    doomed.length
  }

  // ------------------------------------------------------------------
  // V2-catalog seam (graft.catalog.SnapshotCatalog): the hooks a Spark
  // TableCatalog needs that aren't query operations — existence, DDL
  // declaration (schema before first data commit), listing, timestamp
  // time travel. All metadata-sized.
  // ------------------------------------------------------------------

  private[graft] def sparkSession: SparkSession = spark

  /** The table root this instance manages — identifies tables in
    * the catalog-level [[CommitLog]] ([[LakeCommits]]' keys). */
  private[graft] def rootPath: String = root

  private[graft] def snapshotDirString(table: String, v: Int): String =
    dataDirOf(table, v).toString

  private def declaredPath(table: String) = new Path(metaDir(table), "declared.json")

  /** DDL declaration (CREATE TABLE before any data): persists the
    * schema and identity partition columns so an empty table is
    * readable/insertable; derived transforms go straight into the
    * transform-spec property so every subsequent commit derives the
    * hidden layout exactly as [[overwriteTableTransformed]] would. */
  private[graft] def declareTable(table: String, schema: org.apache.spark.sql.types.StructType,
      partitionCols: Seq[String], transforms: Seq[SnapshotTables.PartitionTransform]): Unit = {
    replaceSmallFile(declaredPath(table),
      VersionMeta(0, partitionCols = partitionCols, schema = schema.json).render)
    // Nil deletes: re-declaration (REPLACE TABLE) may change the
    // partitioning, and a stale spec would silently re-derive the OLD layout
    setProp(table, Transforms, Some(transforms))
  }

  /** The DDL declaration, a version-0 [[SnapshotTables.VersionMeta]]. */
  private def declared(table: String): Option[VersionMeta] = {
    val p = declaredPath(table)
    if (fs(p).exists(p)) Some(parseMetaAt(p, 0)) else None
  }

  private[graft] def declaredSchema(table: String): Option[org.apache.spark.sql.types.StructType] =
    declared(table).flatMap(d => structOf(d.schema))

  private[graft] def declaredPartitionCols(table: String): Seq[String] =
    declared(table).fold(Seq.empty[String])(_.partitionCols)

  /** The persisted transform spec, when the table is hidden-partitioned. */
  private[graft] def persistedTransforms(table: String): Seq[SnapshotTables.PartitionTransform] =
    prop(table, Transforms).getOrElse(Nil)

  private[graft] def tableExists(table: String): Boolean =
    currentVersion(table) > 0 || fs(declaredPath(table)).exists(declaredPath(table))

  /** Tables under this root: dirs that carry a metadata dir (committed
    * or declared). Metadata-sized listing. */
  private[graft] def listTableNames(): Seq[String] = {
    val r = new Path(root)
    val f = fs(r)
    if (!f.exists(r)) Nil
    else f.listStatus(r).toSeq
      .filter(s => s.isDirectory && !s.getPath.getName.startsWith("."))
      .map(_.getPath.getName)
      .filter(t => f.exists(metaDir(t)))
      .sorted
  }

  private[graft] def dropTableDir(table: String): Boolean = {
    val d = tableDir(table)
    val f = fs(d)
    f.exists(d) && f.delete(d, true)
  }

  /** Identity partition columns in effect: the current version's
    * commit metadata (minus derived `__p_` transform columns — those
    * re-derive from the persisted spec), falling back to the declared
    * DDL columns before the first commit. A catalog write re-applies
    * these so INSERTs never flatten the layout. */
  private[graft] def currentPartitionCols(table: String): Seq[String] = {
    val v = currentVersion(table)
    if (v == 0) declaredPartitionCols(table)
    else readMeta(table, v).fold(Seq.empty[String])(_.partitionCols.filterNot(_.startsWith("__p_")))
  }

  /** Retained versions with their commit times (millis; commit time =
    * version-metadata file mtime, the same clock `TIMESTAMP AS OF`
    * resolves against), ascending — the data behind the SQL-visible
    * `<table>.history` metadata table (Iceberg's DESCRIBE-HISTORY
    * shape). Versions whose metadata file is gone (expired mid-list)
    * are dropped rather than reported with a fake time. */
  def versionHistory(table: String): Seq[(Int, Long)] =
    history(table).flatMap { v =>
      val m = metaPath(table, v)
      try
        if (fs(m).exists(m)) Some((v, fs(m).getFileStatus(m).getModificationTime)) else None
      catch { case _: java.io.IOException => None }
    }

  /** Latest version committed at or before `millis` (commit time =
    * version-metadata file mtime) — `TIMESTAMP AS OF` resolution. */
  private[graft] def versionAtTimestamp(table: String, millis: Long): Option[Int] =
    history(table).filter { v =>
      val m = metaPath(table, v)
      try fs(m).exists(m) && fs(m).getFileStatus(m).getModificationTime <= millis
      catch { case _: java.io.IOException => false }
    }.lastOption
}

object SnapshotTables {
  import scala.jdk.CollectionConverters._
  import com.fasterxml.jackson.core.JsonParser
  import com.fasterxml.jackson.databind.{JsonMappingException, JsonNode}
  import com.fasterxml.jackson.databind.node.ObjectNode
  import com.fasterxml.jackson.databind.util.RawValue

  /** Live-writer heartbeat marker inside a pool dir being written (name
    * starts with '.', so it is hidden from every reader). */

  /** A meta's `data_dir` as a path: a name resolves in `pool`, an
    * absolute URI stands for itself. */
  private[io] def inPool(pool: Path, dataDir: String): Path = {
    val p = new Path(dataDir)
    if (p.isAbsolute) p else new Path(pool, p)
  }
  private[io] val HeartbeatName = "._graft_heartbeat"

  /** One column's provably-exact manifest aggregates for
    * [[graft.io.SnapshotTables.manifestStatsForScan]] (X113). Every
    * None means "not provable from metadata", never zero; `min`/`max`
    * are `Some(None)` when the column is exactly all-NULL. */
  private[graft] final case class ColStats(
      rows: Option[Long], nulls: Option[Long],
      min: Option[Option[Double]], max: Option[Option[Double]])

  /** One manifest row, typed: every manifest rule
    * ([[SnapshotManifests]]) reads these — collected ONCE per small
    * segment manifest (budgeted), so SQL scan pruning and metadata
    * aggregates plan in memory, or as the rows of a Spark job over a
    * manifest past the budget. */
  private[io] final case class MRow(file: String, column: String,
      rows: Option[Long], nulls: Option[Long],
      minNum: Option[Double], maxNum: Option[Double],
      minStr: Option[String], maxStr: Option[String],
      sketch: Option[Array[Long]], sketchBits: Long, sketchHashes: Int)

  /** Driver-side manifest cache for the planning fast path, keyed by
    * manifest path and mtime. Version manifests are written ONCE and
    * never mutated (expiry only deletes), so entries never go stale —
    * an expired version's entry is merely unreachable garbage, which
    * the LRU bound reclaims. The over-budget verdict is cached too, so
    * a huge manifest is sized exactly once. */
  private val ManifestCacheMax = 64
  /** The loader's verdict on a segment manifest: missing (none, or one
    * with no rows), its rows when within the driver budget, over budget
    * (evaluated in a Spark job), or unreadable (corrupt/IO-failed —
    * cached so the fallback never re-reads a known-bad manifest on
    * every query; a transient failure sticks only until LRU eviction,
    * and the verdict only ever degrades to a FULL segment read or a
    * declined metadata answer, never to a wrong skip). */
  private[io] sealed trait ManifestVerdict
  private[io] case object ManifestMissing extends ManifestVerdict
  private[io] final case class ManifestRows(rows: Seq[MRow]) extends ManifestVerdict
  private[io] case object ManifestOverBudget extends ManifestVerdict
  private[io] case object ManifestUnreadable extends ManifestVerdict

  private[io] val manifestCache =
    new java.util.LinkedHashMap[String, ManifestVerdict](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, ManifestVerdict]): Boolean =
        size() > ManifestCacheMax
    }

  /** Relation cache for WRITE-ONCE parquet inputs (r20 optimization —
    * guide §1/§6: the driver gap, not the data plane, dominated the
    * lifecycle queries; q133 sampled ~40 % of wall inside
    * `spark.read.parquet` re-listing + re-footer-reading the same
    * immutable segment dirs). Version data dirs (write-once pool dirs,
    * or a `snapshots/` dir of a table written before the pool layout)
    * and stats manifests are created before or by the commit CAS and
    * never mutated afterwards — expiry/rollback/orphan-sweep
    * only DELETE them — so a `(modTime, len)`-guarded entry can never
    * serve a stale relation: deletion fails the exists probe, and any
    * same-path re-creation (a re-created table line) lands a new
    * mtime. Values are the resolved `DataFrame` (its `FileIndex` and
    * inferred schema are the expensive part); `None` records the
    * no-data-files verdict (empty dynamic-partition write) so empty
    * segments are probed exactly once per state. Keys carry the owning
    * session's identity — a DataFrame is bound to its session and must
    * never leak across (tests and dev mains run separate sessions).
    * This caches INPUT METADATA of immutable files, never query
    * results: every bench/oracle run re-executes the full read path. */
  private val RelationCacheMax = 256
  private type CachedRelation = (Long, Long, Option[org.apache.spark.sql.types.StructType],
    Option[org.apache.spark.sql.DataFrame])
  private[io] val relationCache =
    new java.util.LinkedHashMap[String, CachedRelation](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, CachedRelation]): Boolean =
        size() > RelationCacheMax
    }

  /** `dt` with every field, element and map value nullable — the type a
    * file-source read gives a column, whatever the writer's frame had
    * (Spark's own `asNullable` is internal). */
  private[io] def nullable[T <: org.apache.spark.sql.types.DataType](dt: T): T = {
    import org.apache.spark.sql.types._
    (dt match {
      case s: StructType =>
        StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
      case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
      case other => other
    }).asInstanceOf[T]
  }

  /** One version's commit metadata, `metadata/v<NNNNN>.json`: one
    * compact JSON object, rendered by [[render]] and parsed by
    * [[VersionMeta.parse]] and nowhere else. Each field by its JSON
    * name, with the value a parse gives when it is absent, and the
    * commits that write it:
    *  - `version` — the file name's number — every commit. A parse
    *    takes `v` from the file name.
    *  - `writer` — "" — every commit: the attempt's UUID (a commit's
    *    own pool dir is named after it).
    *  - `partition_cols` — [] — every commit: the identity layout,
    *    derived `__p_*` transform columns included.
    *  - `data_dir` — none — every commit: the write-once pool dir
    *    holding the version's data, by its name in the table's pool
    *    `<table>/data/` (so a table dir can move, as ALTER TABLE RENAME
    *    moves it; [[SnapshotTables.inPool]]). An absolute URI (the
    *    earlier direct layout wrote one) names the dir itself. A meta
    *    without one (written before the pool layout) reads
    *    `snapshots/v<NNNNN>`.
    *  - `kind` — "full" — delta commits: "append", "mor_upsert",
    *    "mor_delete", "mor_patch", "mor_revise".
    *  - `key_cols` — [] — "mor_upsert", "mor_delete", "mor_revise".
    *  - `txn` — none — commits made with a `txnId`.
    *  - `base` — v − 1 — every delta kind.
    *  - `fold` — false — minor-compaction commits.
    *  - `schema_evolved` — false — metadata-only ADD/DROP COLUMN
    *    commits (kind "append").
    *  - `schema` — "" — every commit: the version's Spark schema JSON,
    *    embedded as a JSON value and held here as its text. A full
    *    commit records its written frame, `__p_*` layout columns
    *    included: the read schema of its files
    *    (`filesSchema`, [[SnapshotReads]]), so reads open no footer to
    *    learn it. A delta records the table's schema; a metadata-only
    *    schema evolution records the declared schema.
    *  - `files_schema` — false — a delta written with the table's
    *    layout (append, mor_upsert, an append or mor_revise fold) whose
    *    columns have the table's types: its `schema` adds the `__p_*`
    *    layout columns and is the read schema of its files (of `add/`
    *    for mor_revise). Without it a delta's files are read with
    *    footer inference.
    * Fields are read at the top level only, so field metadata inside
    * `schema` can never pass for a commit field. `declared.json` (a DDL
    * declaration before the first commit) is the same codec at version
    * 0, which renders only `partition_cols` and `schema`. */
  private[graft] final case class VersionMeta(v: Int, kind: String = "full", base: Int = 0,
      keyCols: Seq[String] = Nil, fold: Boolean = false, txn: Option[String] = None,
      schemaEvolved: Boolean = false, dataDir: Option[String] = None, writer: String = "",
      partitionCols: Seq[String] = Nil, schema: String = "", schemaOfFiles: Boolean = false) {

    def render: String = {
      val o = Json.mapper.createObjectNode()
      if (v > 0) o.put("version", v)
      if (writer.nonEmpty) o.put("writer", writer)
      putTexts(o, "partition_cols", partitionCols)
      dataDir.foreach(o.put("data_dir", _))
      if (kind != "full") o.put("kind", kind)
      if (keyCols.nonEmpty) putTexts(o, "key_cols", keyCols)
      txn.foreach(o.put("txn", _))
      if (kind != "full") o.put("base", base)
      if (fold) o.put("fold", true)
      if (schemaEvolved) o.put("schema_evolved", true)
      if (schemaOfFiles) o.put("files_schema", true)
      if (schema.nonEmpty) o.putRawValue("schema", new RawValue(schema))
      Json.mapper.writeValueAsString(o)
    }
  }

  private[io] object VersionMeta {
    /** Version `v`'s meta from its file text. A text that is not one
      * JSON object with these field types — empty, or torn by a crash
      * between the CAS create and its write — throws a Jackson
      * `JsonProcessingException` (an IOException). */
    def parse(v: Int, text: String): VersionMeta = {
      val o = Json.readObject(text)
      VersionMeta(v,
        kind = textField(o, "kind").getOrElse("full"),
        base = intField(o, "base").getOrElse(v - 1),
        keyCols = textsField(o, "key_cols"),
        fold = boolField(o, "fold"),
        txn = textField(o, "txn"),
        schemaEvolved = boolField(o, "schema_evolved"),
        dataDir = textField(o, "data_dir"),
        writer = textField(o, "writer").getOrElse(""),
        partitionCols = textsField(o, "partition_cols"),
        schema = Option(o.get("schema")).fold("")(_.toString),
        schemaOfFiles = boolField(o, "files_schema"))
    }
  }

  /** A ref file's one number: a branch ref `refs/<branch>` is
    * `{"base":n}` (the main version it forked from), a tag
    * `tags/<tag>` is `{"version":v}`. Both name a committed version. */
  private[io] object RefFile {
    def render(field: String, v: Int): String =
      Json.mapper.writeValueAsString(Json.mapper.createObjectNode().put(field, v))

    def parse(field: String, text: String): Int =
      intField(Json.readObject(text), field).filter(_ >= 1).getOrElse(
        throw new IllegalStateException(s"ref file has no committed version under '$field': $text"))
  }

  /** One standing TABLE PROPERTY (Iceberg keeps table behaviour as
    * table properties): a small sidecar file `metadata/<file>` holding
    * `render`'s text. `parse` is the one strict parse of a value — of
    * the file, of a TBLPROPERTIES value and of a setter's argument — and
    * throws IllegalArgumentException on a value it does not accept.
    * `key` is its TBLPROPERTIES key (None: set through `PARTITIONED
    * BY`); `default` its value while the file is absent (None: unset);
    * `columns` the
    * table columns a value names, which must exist when it is set. */
  private[graft] final class Prop[T](val file: String, val key: Option[String],
      val parse: String => T, val render: T => String,
      val default: SnapshotTables => Option[T] = (_: SnapshotTables) => None,
      val columns: T => Seq[String] = (_: T) => Nil) {
    def name: String = key.getOrElse(file)

    /** `raw` as a value to set on a table whose columns are `have`
      * (empty while no schema is known): parsed, and every column it
      * names checked. Errors name the property. */
    private[io] def valid(raw: String, have: => Seq[String]): T = {
      val v = try parse(raw) catch { case e: IllegalArgumentException =>
        throw new IllegalArgumentException(s"$name ${e.getMessage}", e) }
      val named = columns(v)
      if (named.nonEmpty) {
        val cols = have
        named.foreach(c => require(cols.isEmpty || cols.contains(c),
          s"$name column '$c' is not a column of the table (have: ${cols.mkString(", ")})"))
      }
      v
    }
  }

  /** A validated change to one property: Some sets it, None clears it. */
  private[graft] final case class PropChange[T](p: Prop[T], value: Option[T])

  private def oneOf(allowed: String*)(raw: String): String = {
    val v = raw.trim
    require(allowed.contains(v), s"must be ${allowed.map(a => s"'$a'").mkString(" or ")}, got '$raw'")
    v
  }

  private def columnList(file: String, key: String): Prop[Seq[String]] =
    new Prop[Seq[String]](file, Some(key), _.split(',').toSeq.map(_.trim).filter(_.nonEmpty),
      _.mkString(","), columns = identity)

  /** Row-level DML strategy: "cow" rewrites, "mor" commits patches. */
  private[io] val WriteMode = new Prop[String]("write_mode", Some("graft.write.mode"),
    oneOf("cow", "mor"), identity, _ => Some("cow"))
  /** Write sort order: every commit range-distributes and sorts on these. */
  private[io] val SortOrder = columnList("sort_order", "graft.write.sort_by")
  /** Predecessor versions kept behind the head; the store's by default. */
  private[io] val Retention = new Prop[Int]("retention", Some("graft.retention.versions"),
    raw => raw.trim.toIntOption.filter(_ >= 0).getOrElse(
      throw new IllegalArgumentException(s"must be a non-negative int, got '$raw'")),
    _.toString, st => Some(st.previousVersionsMax))
  /** Columns every commit keeps a per-file [min,max,nulls,rows] manifest over. */
  private[io] val StatsCols = columnList("stats_cols", "graft.stats.columns")
  /** Columns every commit keeps per-file Bloom membership sketches over. */
  private[io] val SketchCols = columnList("sketch_cols", "graft.sketch.columns")
  /** Hidden-partition transforms every plain commit re-derives. */
  private[io] val Transforms = new Prop[Seq[PartitionTransform]]("partition_transforms", None,
    raw => {
      val ts = PartitionTransform.parseSpec(raw)
      require(ts.map(_.name).distinct.length == ts.length,
        s"has duplicate transforms: ${ts.map(_.name).mkString(", ")}")
      ts
    },
    PartitionTransform.formatSpec, columns = _.map(_.srcCol))

  /** Every standing table property. */
  private[io] val Props: Seq[Prop[_]] =
    Seq(WriteMode, SortOrder, Retention, StatsCols, SketchCols, Transforms)
  /** What a new branch inherits from main: all but the retention window. */
  private[io] val ForkedProps: Seq[Prop[_]] = Props.filterNot(_ == Retention)
  /** What publish hands back to main; main keeps its own sort order. */
  private[io] val PublishedProps: Seq[Prop[_]] = Seq(WriteMode, StatsCols, SketchCols, Transforms)

  /** TBLPROPERTIES values for the keys of [[Props]] (Some: SET, where
    * a blank value clears like UNSET; None: UNSET) as changes, every one
    * parsed and checked against the table's columns `have` before the
    * caller writes any. Keys outside the list are not looked at. */
  private[graft] def propChanges(values: Map[String, Option[String]],
      have: => Seq[String]): Seq[PropChange[_]] = {
    lazy val cols = have
    def change[T](p: Prop[T], raw: Option[String]) =
      PropChange(p, raw.filter(_.trim.nonEmpty).map(p.valid(_, cols)))
    Props.flatMap(p => p.key.flatMap(values.get).map(change(p, _)))
  }

  /** The TBLPROPERTIES keys of [[Props]]. */
  private[graft] def propKeys: Seq[String] = Props.flatMap(_.key)

  // typed reads of one top-level field: absent gives None, Nil or
  // false; present with the wrong JSON type does not parse
  private def field(o: ObjectNode, name: String)(ok: JsonNode => Boolean): Option[JsonNode] =
    Option(o.get(name)).map { n =>
      if (ok(n)) n else throw JsonMappingException.from(null: JsonParser, s"field '$name' has the wrong type: $n")
    }
  private def textField(o: ObjectNode, name: String): Option[String] =
    field(o, name)(_.isTextual).map(_.textValue)
  private def intField(o: ObjectNode, name: String): Option[Int] =
    field(o, name)(n => n.isIntegralNumber && n.canConvertToInt).map(_.intValue)
  private def boolField(o: ObjectNode, name: String): Boolean =
    field(o, name)(_.isBoolean).exists(_.booleanValue)
  private def textsField(o: ObjectNode, name: String): Seq[String] =
    field(o, name)(n => n.isArray && n.asScala.forall(_.isTextual))
      .fold(Seq.empty[String])(_.asScala.map(_.textValue).toSeq)
  private def putTexts(o: ObjectNode, name: String, vs: Seq[String]): Unit = {
    val a = o.putArray(name)
    vs.foreach(s => a.add(s))
  }

  /** One `.partitions` relation row: a live partition directory value
    * ("" = unpartitioned) with its data-file and pending-MOR-delete
    * footprints in the current version's chain. */
  final case class PartitionStat(partition: String, fileCount: Long, recordCount: Long,
      totalBytes: Long, deleteFileCount: Long, deleteRecordCount: Long)

  /** A partition transform (Iceberg's hidden-partitioning vocabulary):
    * a pure function of one source column whose image becomes the
    * partition directory value. `ordered` transforms map source ranges
    * to partition ranges (days, truncate); buckets deliberately don't. */
  sealed abstract class PartitionTransform(val srcCol: String, label: String) {
    final val name: String = s"__p_${label}_$srcCol"
    def exprOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column
    final def expr: org.apache.spark.sql.Column =
      exprOf(org.apache.spark.sql.functions.col(srcCol))
    def ordered: Boolean
  }

  object PartitionTransform {
    import org.apache.spark.sql.functions._

    /** days(ts): UTC date of a timestamp/date/date-string. */
    def days(src: String): PartitionTransform = new PartitionTransform(src, "days") {
      def exprOf(c: org.apache.spark.sql.Column) = to_date(c).cast("string")
      def ordered = true
    }

    /** truncate(len, s): leading `len` characters of a string. */
    def truncate(len: Int, src: String): PartitionTransform = {
      require(len > 0, "truncate length must be positive")
      new PartitionTransform(src, s"trunc$len") {
        def exprOf(c: org.apache.spark.sql.Column) = substring(c.cast("string"), 1, len)
        def ordered = true
      }
    }

    /** bucket(n, key): xxhash64 mod n — spreads a high-cardinality key
      * over n directories (point lookups prune via
      * [[SnapshotTables.readPartitionValues]]). */
    def bucket(n: Int, src: String): PartitionTransform = {
      require(n > 0, "bucket count must be positive")
      new PartitionTransform(src, s"bucket$n") {
        def exprOf(c: org.apache.spark.sql.Column) = pmod(xxhash64(c), lit(n.toLong)).cast("int")
        def ordered = false
      }
    }

    /** bucketMurmur3(n, key): Iceberg's EXACT bucket[n] transform —
      * murmur3_x86_32 over the spec's value serialization
      * ([[graft.functions.IcebergMurmur3]]). Same spreading behavior
      * as [[bucket]], but because the hash matches what external
      * Iceberg readers compute, [[IcebergExport]] declares these as
      * REAL `bucket[n]` spec fields (xxhash64 buckets are honestly
      * omitted) and [[IcebergImport]] can scope bucket-partitioned
      * equality deletes. Prefer this flavor for tables that will cross
      * the bridge. */
    def bucketMurmur3(n: Int, src: String): PartitionTransform = {
      require(n > 0, "bucket count must be positive")
      new PartitionTransform(src, s"m3bucket$n") {
        def exprOf(c: org.apache.spark.sql.Column) =
          org.apache.spark.sql.GraftSqlBridge.column(
            graft.functions.IcebergBucketExpr(org.apache.spark.sql.GraftSqlBridge.expression(c), n))
        def ordered = false
      }
    }

    /** Table-property serialization of a transform list ("days:ts,
      * bucket8:id,trunc6:name") — column names cannot contain ':' or
      * ',' (enforced at format time, so a parse is always exact). */
    def formatSpec(ts: Seq[PartitionTransform]): String = {
      ts.foreach(t => require(!t.srcCol.contains(':') && !t.srcCol.contains(','),
        s"column '${t.srcCol}' cannot be serialized in a transform spec"))
      ts.map { t =>
        val label = t.name.stripPrefix("__p_").stripSuffix(s"_${t.srcCol}")
        s"$label:${t.srcCol}"
      }.mkString(",")
    }

    private val M3BucketRe = "m3bucket(\\d+)".r
    private val BucketRe = "bucket(\\d+)".r
    private val TruncRe = "trunc(\\d+)".r

    def parseSpec(spec: String): Seq[PartitionTransform] =
      spec.split(',').toSeq.filter(_.nonEmpty).map { part =>
        part.split(":", 2) match {
          case Array("days", src)        => days(src)
          case Array(M3BucketRe(n), src) => bucketMurmur3(n.toInt, src)
          case Array(BucketRe(n), src)   => bucket(n.toInt, src)
          case Array(TruncRe(len), src)  => truncate(len.toInt, src)
          case _ => throw new IllegalArgumentException(s"unknown partition transform '$part'")
        }
      }
  }

  /** Thrown by the losing writer of a version race: the table already
    * advanced past the version this writer staged. The loser's staged
    * data is cleaned up before the throw; re-reading and retrying the
    * commit is always safe. */
  final class ConcurrentCommitException(table: String, version: Int)
      extends RuntimeException(
        s"concurrent commit: version $version of table '$table' was committed by another writer")
}
