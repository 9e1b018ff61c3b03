package graft.catalog

import graft.io.SnapshotTables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.filter.{AlwaysTrue, And => V2And, Predicate}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwriteV2, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util

/** One snapshot table resolved through [[SnapshotCatalog]], pinned to
  * the version current at load time (so a whole query reads ONE
  * consistent snapshot even if a writer commits mid-query — the same
  * isolation [[SnapshotTables.read]] gives the Scala API).
  *
  * Read path: the version's chain scan ([[SnapshotTables.chainScan]],
  * the one function every snapshot read takes its dirs and schemas
  * from) gives the schema — the same one [[SnapshotTables.readVersion]]
  * reads, derived hidden-partition (`__p_*`) columns concealed. A
  * direct chain (one data dir, or unpartitioned append dirs of one read
  * schema) delegates the scan to Spark's own parquet DSv2 table over
  * those dirs with that read schema — predicate pushdown, column
  * pruning, partition-directory pruning and vectorized reading are the
  * stock parquet path's; every other chain is planned as its resolved
  * read by [[graft.plans.DeltaResolveRule]]. A version with no data
  * files scans as zero rows; one whose data dir is missing fails the
  * query.
  *
  * Write path: V1 write fallback — the planner hands this table an
  * ANALYZED DataFrame and the commit goes through
  * [[SnapshotTables.overwriteTable]]: the same distributed write,
  * fenced CAS, stats/sketch manifest maintenance and hidden-layout
  * re-derivation every API commit gets. INSERT INTO on a non-empty
  * table is union-then-commit (the full-snapshot-per-version model's
  * trade, same as the API's merge/delete).
  */
final class SnapshotTableV2(
    fullName: String,
    st: SnapshotTables,
    table: String,
    version: Int,
    pinnedVersion: Boolean = false,
    afterWrite: Int => Unit = _ => ()
) extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.TruncatableTable {

  /** Seams for [[graft.plans.SnapshotDmlRule]] (SQL DELETE/UPDATE/MERGE). */
  private[graft] def tables: SnapshotTables = st
  private[graft] def tableName: String = table
  private[graft] def isPinned: Boolean = pinnedVersion
  private[graft] def identityPartitionCols: Seq[String] =
    if (st.persistedTransforms(table).nonEmpty) Nil else st.currentPartitionCols(table)

  /** Post-commit hook (log-governed catalogs publish-through here) —
    * called by the write builder AND the DML commands with the table's
    * version after their commit. */
  private[graft] def notifyCommitted(): Unit = afterWrite(st.currentVersion(table))

  private def spark: SparkSession = st.sparkSession

  /** The pinned version's chain as every read takes it
    * ([[SnapshotTables.chainScan]]): its data dirs with their read
    * schemas, its output schema, and whether it is one direct scan. */
  private lazy val scan: Option[graft.io.SnapshotReads.ChainScan] =
    Option.when(version > 0)(st.chainScan(table, version))

  /** The parquet directories a DIRECT scan of this version reads; None
    * when the chain is planned by [[graft.plans.DeltaResolveRule]]
    * instead (see [[SnapshotTables.chainScan]]). */
  private[graft] def directScanDirs: Option[Seq[String]] =
    scan.filter(_.direct).map(_.dirs.map(_.path.toString))

  private[graft] def pinnedVersionNumber: Int = version

  override def name(): String = fullName

  /** Schema of the pinned snapshot (partition columns included,
    * `__p_*` derived columns concealed): the chain's output schema, or
    * the DDL declaration before the first commit. */
  override def schema(): StructType =
    scan.map(_.schema).orElse(st.declaredSchema(table)).getOrElse(new StructType())

  override def partitioning(): Array[Transform] =
    SnapshotCatalog.toV2Transforms(st.currentPartitionCols(table), st.persistedTransforms(table))

  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    m.put("provider", "graft-snapshots")
    m.put("version", version.toString)
    st.tableProperties(table).foreach { case (k, v) => m.put(k, v) }
    m
  }

  override def capabilities(): util.Set[TableCapability] = {
    val s = new util.HashSet[TableCapability]()
    s.add(TableCapability.BATCH_READ)
    s.add(TableCapability.V1_BATCH_WRITE)
    s.add(TableCapability.TRUNCATE)
    s.add(TableCapability.OVERWRITE_BY_FILTER)
    // NOT advertised: OVERWRITE_DYNAMIC — Spark's dynamic-partition
    // overwrite has no V1-fallback exec (DataSourceV2Strategy plans
    // OverwritePartitionsDynamicExec unconditionally, which needs the
    // full V2 BatchWrite protocol this table deliberately does not
    // implement). Use static `PARTITION (col=value)` overwrite, SQL
    // MERGE, or the API's SnapshotTables.overwritePartitions — the
    // same semantics, committed through the same fenced CAS.
    // `MERGE ... WITH SCHEMA EVOLUTION`: the analyzer gates on this
    // capability, then widens the table through the catalog's
    // alterTable (a METADATA-ONLY ADD COLUMN commit) and re-resolves
    // the MERGE against the evolved schema — the DML rewrite sees a
    // normal MERGE
    s.add(TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    s
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    scan.filter(_.dirs.nonEmpty) match {
      case None =>
        // declared-but-empty table (or a version with no data files):
        // zero rows with its schema, planned as a local scan
        val s = schema()
        new ScanBuilder {
          override def build(): Scan = new LocalScan {
            override def rows(): Array[InternalRow] = Array.empty
            override def readSchema(): StructType = s
          }
        }
      case Some(c) if c.direct =>
        // the dirs share one read schema: no footer is opened here
        ParquetTable(fullName, spark, options, c.dirs.map(_.path.toString), Some(c.dirs.head.schema),
          classOf[ParquetFileFormat]).newScanBuilder(options)
      case Some(_) =>
        // merge-on-read, partitioned or mixed-type delta chain: the scan
        // is a resolved plan (anti-joins + unions), substituted at
        // analysis time by graft.plans.DeltaResolveRule. Reaching here
        // means the rule is not active.
        throw new IllegalStateException(
          s"$fullName v$version is a delta chain — scans resolve through " +
            "graft.plans.DeltaResolveRule; enable spark.sql.extensions=graft.GraftExtensions")
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(!pinnedVersion, s"cannot write to $fullName pinned at version $version (time travel is read-only)")
    new SnapshotWriteBuilder(st, table, () => notifyCommitted())
  }

  /** `TRUNCATE TABLE` — one committed EMPTY version on the same line
    * (prior content still time-travels, Iceberg's truncate shape). The
    * current schema is re-declared first so the table stays readable
    * and insertable with its schema after the empty commit. */
  override def truncateTable(): Boolean = {
    require(!pinnedVersion, s"cannot truncate $fullName pinned at version $version")
    val cur = schema()
    require(cur.nonEmpty, s"$fullName has no schema to truncate to")
    st.declareTable(table, cur, st.currentPartitionCols(table), st.persistedTransforms(table))
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), cur)
    st.overwriteTable(empty, table, identityPartitionCols)
    notifyCommitted()
    true
  }
}

/** Write modes: INSERT INTO (append), INSERT OVERWRITE (truncate), and
  * static-partition overwrite (filtered). All three commit ONE new
  * snapshot version through the fenced CAS. */
private final class SnapshotWriteBuilder(st: SnapshotTables, table: String, committed: () => Unit)
    extends WriteBuilder with SupportsTruncate with SupportsOverwriteV2 {

  private var truncateAll = false
  private var overwriteFilters: Array[Predicate] = Array.empty

  override def truncate(): WriteBuilder = { truncateAll = true; this }

  override def overwrite(predicates: Array[Predicate]): WriteBuilder = {
    if (predicates.forall(_.isInstanceOf[AlwaysTrue])) truncateAll = true
    else overwriteFilters = predicates
    this
  }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation = new InsertableRelation {
      override def insert(data: DataFrame, overwrite: Boolean): Unit = commit(data)
    }
  }

  private def commit(data: DataFrame): Unit = {
    // re-deriving hidden layout is overwriteTable's own job (persisted
    // transform spec); identity partition columns must be re-threaded
    val pcols =
      if (st.persistedTransforms(table).nonEmpty) Nil
      else st.currentPartitionCols(table)
    val cur = st.currentVersion(table)
    if (truncateAll || cur == 0) st.overwriteTable(data, table, pcols)
    else if (overwriteFilters.nonEmpty) {
      import org.apache.spark.sql.functions.not
      val pred = overwriteFilters.map(SnapshotWriteBuilder.predicateToColumn)
        .reduce(_ && _)
      st.overwriteTable(st.read(table).filter(not(pred)).unionByName(data), table, pcols)
    } else
      // INSERT INTO appends as an O(batch) delta commit — the analyzer
      // already reconciled `data` to the table schema, and append
      // re-derives the table's layout; chains stay bounded by the
      // auto-materialize budget
      st.append(data, table)
    committed()
  }
}

private object SnapshotWriteBuilder {
  import org.apache.spark.sql.{Column, GraftSqlBridge}
  import org.apache.spark.sql.functions.col

  /** The small V2-Predicate vocabulary static-partition INSERT
    * OVERWRITE produces (=, <=>, IN, AND over column/literal pairs) →
    * Column. Anything richer is rejected loudly rather than silently
    * overwriting the wrong rows. */
  private[catalog] def predicateToColumn(p: Predicate): Column = p match {
    case _: AlwaysTrue => org.apache.spark.sql.functions.lit(true)
    case a: V2And => predicateToColumn(a.left()) && predicateToColumn(a.right())
    case gp =>
      def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[Column] = e match {
        case r: NamedReference => Some(col(r.fieldNames().mkString(".")))
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          Some(GraftSqlBridge.column(org.apache.spark.sql.catalyst.expressions.Literal(l.value(), l.dataType())))
        case _ => None
      }
      val kids = gp.children().flatMap(colOf)
      gp.name() match {
        case "=" | "<=>" if kids.length == 2 => kids(0) <=> kids(1)
        case "IN" if kids.length == gp.children().length && kids.length >= 2 =>
          kids.head.isin(kids.tail.map(c => c): _*)
        case other =>
          throw new UnsupportedOperationException(
            s"unsupported overwrite predicate '$other' ($gp) — use INSERT OVERWRITE without " +
              "a partition spec, or the DELETE/MERGE SQL surface")
      }
  }
}

/** The `<cat>.<ns>.<table>.history` METADATA table — the engine's
  * `DESCRIBE HISTORY` affordance, Iceberg's history-table shape (the
  * reference positions its tables as Iceberg-backed, readme.md:93-114;
  * Iceberg exposes `db.table.history` with one row per
  * made-current snapshot). One row per RETAINED version of the
  * snapshot line, driver-materialized (≤ retention rows by
  * construction — metadata, never data):
  *
  *   made_current_at TIMESTAMP — commit time (the same mtime clock
  *                               `TIMESTAMP AS OF` resolves against)
  *   version INT               — the snapshot version (`VERSION AS OF`)
  *   parent_version INT        — the preceding version on the line
  *                               (NULL for the first commit)
  *   is_current BOOLEAN        — whether this is the line's HEAD
  *
  * Resolution: [[SnapshotCatalog.loadTable]] routes `ns.t.history`
  * here only when no REAL table of that name exists (a real table
  * always wins) and `ns.t` is a snapshot table. Rows are computed at
  * scan-build time, so each query sees the history as of its own
  * planning — consistent with the catalog's per-statement version
  * resolution. On log-governed catalogs the history lists the snapshot
  * LINE (all committed versions, published or not) — the publication
  * state is the commit log's story, not the table's. */
private[catalog] final class HistoryMetadataTable(
    fullName: String,
    st: SnapshotTables,
    table: String
) extends Table with SupportsRead {

  override def name(): String = fullName
  override def schema(): StructType = HistoryMetadataTable.Schema

  override def capabilities(): util.Set[TableCapability] = {
    val s = new util.HashSet[TableCapability]()
    s.add(TableCapability.BATCH_READ)
    s
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def rows(): Array[InternalRow] = {
          val hist = st.versionHistory(table)
          val cur = st.currentVersion(table)
          val retained = hist.map(_._1).toSet
          hist.flatMap { case (v, millis) =>
            val parent = if (v <= 1) null else Integer.valueOf(v - 1)
            // a meta expired since the listing drops its row; one that
            // does not parse fails the scan, naming the file
            st.listedKind(table, v).map { kind =>
              // parent may itself be expired; report it anyway — lineage
              // is about ORDER, retention about readability
              InternalRow(millis * 1000L, v,
                if (parent == null) null else parent.intValue(),
                v == cur && retained.contains(v),
                org.apache.spark.unsafe.types.UTF8String.fromString(kind))
            }
          }.toArray
        }
        override def readSchema(): StructType = HistoryMetadataTable.Schema
      }
    }
}

private[catalog] object HistoryMetadataTable {
  import org.apache.spark.sql.types.{BooleanType, IntegerType, StringType, TimestampType}
  val Schema: StructType = new StructType()
    .add("made_current_at", TimestampType, nullable = false)
    .add("version", IntegerType, nullable = false)
    .add("parent_version", IntegerType, nullable = true)
    .add("is_current", BooleanType, nullable = false)
    // commit kind: "full" snapshot, O(delta) "append", a merge-on-read
    // delta ("mor_upsert"/"mor_delete"/"mor_patch"), or minor
    // compaction's folded segment ("mor_revise")
    .add("kind", StringType, nullable = false)

  /** The reserved metadata-table suffix. */
  val Name = "history"
}

/** The `<cat>.<ns>.<table>.refs` METADATA table — Iceberg's refs
  * relation: one row per live WAP branch with the main version it
  * forked from and how many commits it carries (0 = zero-copy fork
  * still reading its base). Same resolution and sizing rules as
  * [[HistoryMetadataTable]]: real tables shadow the name, rows are
  * driver-materialized at scan build (branch count is
  * operator-bounded metadata). */
private[catalog] final class RefsMetadataTable(
    fullName: String,
    st: SnapshotTables,
    table: String
) extends Table with SupportsRead {
  import org.apache.spark.unsafe.types.UTF8String

  override def name(): String = fullName
  override def schema(): StructType = RefsMetadataTable.Schema

  override def capabilities(): util.Set[TableCapability] = {
    val s = new util.HashSet[TableCapability]()
    s.add(TableCapability.BATCH_READ)
    s
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def rows(): Array[InternalRow] = {
          val bs = st.branchRefs(table).map { case (branch, base, commits) =>
            InternalRow(UTF8String.fromString(branch), base, commits,
              UTF8String.fromString("branch"))
          }
          // tags (X116): base_version = the pinned version, zero commits
          val ts = st.tags(table).map { case (tag, v) =>
            InternalRow(UTF8String.fromString(tag), v, 0, UTF8String.fromString("tag"))
          }
          (bs ++ ts).toArray
        }
        override def readSchema(): StructType = RefsMetadataTable.Schema
      }
    }
}

private[catalog] object RefsMetadataTable {
  import org.apache.spark.sql.types.IntegerType
  // `branch` is the REF NAME (the column predates tags; Iceberg calls
  // it `name`); `type` distinguishes mutable WAP branches from
  // immutable tags, exactly Iceberg's refs shape
  val Schema: StructType = new StructType()
    .add("branch", org.apache.spark.sql.types.StringType, nullable = false)
    .add("base_version", IntegerType, nullable = false)
    .add("branch_commits", IntegerType, nullable = false)
    .add("type", org.apache.spark.sql.types.StringType, nullable = false)

  val Name = "refs"
}

/** The `<cat>.<ns>.<table>.partitions` METADATA table — Iceberg's
  * partitions relation: one row per live partition value of the
  * CURRENT version with its data-file footprint, and merge-on-read
  * delete content (tombstones awaiting resolution) in separate columns
  * exactly as Iceberg reports tables carrying delete files. Same
  * resolution rules as [[HistoryMetadataTable]] (real tables shadow
  * the name); the row set is |partitions|-sized and the footer reads
  * behind it run as ONE distributed job inside
  * [[graft.io.SnapshotTables.partitionStats]] — the driver only ever
  * holds the aggregated result. */
private[catalog] final class PartitionsMetadataTable(
    fullName: String,
    st: SnapshotTables,
    table: String
) extends Table with SupportsRead {
  import org.apache.spark.unsafe.types.UTF8String

  override def name(): String = fullName
  override def schema(): StructType = PartitionsMetadataTable.Schema

  override def capabilities(): util.Set[TableCapability] = {
    val s = new util.HashSet[TableCapability]()
    s.add(TableCapability.BATCH_READ)
    s
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def rows(): Array[InternalRow] =
          st.partitionStats(table).map { p =>
            InternalRow(UTF8String.fromString(p.partition), p.recordCount, p.fileCount,
              p.totalBytes, p.deleteRecordCount, p.deleteFileCount)
          }.toArray
        override def readSchema(): StructType = PartitionsMetadataTable.Schema
      }
    }
}

private[catalog] object PartitionsMetadataTable {
  import org.apache.spark.sql.types.{LongType, StringType}
  val Schema: StructType = new StructType()
    // the partition's directory run, "" for an unpartitioned table —
    // identity dirs spell `col=value`, hidden transforms `__p_*_col=v`
    .add("partition", StringType, nullable = false)
    .add("record_count", LongType, nullable = false)
    .add("file_count", LongType, nullable = false)
    .add("total_bytes", LongType, nullable = false)
    .add("delete_record_count", LongType, nullable = false)
    .add("delete_file_count", LongType, nullable = false)

  val Name = "partitions"
}
