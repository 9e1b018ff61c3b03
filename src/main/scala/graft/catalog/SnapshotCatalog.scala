package graft.catalog

import graft.io.SnapshotTables
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util

/** Spark V2 `TableCatalog` over [[graft.io.SnapshotTables]] — the
  * engine's answer to the reference registering Iceberg catalogs and
  * speaking 3-level names (reference: spark/jobs/job_gold.py:50-58
  * configures `spark.sql.catalog.silver`/`gold`; the gold query at
  * job_gold.py:71-88 reads `silver.dw.tab_brewery` verbatim).
  *
  * Register exactly like the reference does, but with the snapshot
  * root instead of an Iceberg warehouse:
  * {{{
  *   spark.conf.set("spark.sql.catalog.silver", "graft.catalog.SnapshotCatalog")
  *   spark.conf.set("spark.sql.catalog.silver.root", "/lake/silver/warehouse")
  *   spark.sql("SELECT ... FROM silver.dw.tab_brewery WHERE ...")
  * }}}
  *
  * Layout: `<root>/<namespace...>/<table>` — each namespace directory
  * is a [[SnapshotTables]] root, so every table resolved through the
  * catalog carries the full snapshot feature set (versioned commits,
  * retention, manifests, hidden partitioning, WAP branches).
  *
  * Surface through SQL:
  *  - reads (`SELECT ... FROM cat.ns.tab`) delegate the scan to
  *    Spark's own parquet DSv2 scan over the resolved snapshot
  *    directory — predicate pushdown, column pruning and
  *    partition-directory pruning are exactly the built-in parquet
  *    path's, nothing bespoke;
  *  - time travel: `VERSION AS OF n` pins a retained snapshot
  *    version; `TIMESTAMP AS OF t` resolves the newest version
  *    committed at or before `t` (commit mtime);
  *  - `CREATE TABLE` / `CTAS` with `PARTITIONED BY` — identity
  *    columns map to directory partitioning, `days(c)` / `bucket(n,
  *    c)` / `truncate(n, c)` map to the snapshot layer's HIDDEN
  *    partition transforms;
  *  - `INSERT INTO` / `INSERT OVERWRITE` (incl. static-partition
  *    overwrite) write through the same fenced-CAS commit path as the
  *    Scala API — a V1 write fallback hands this layer an analyzed
  *    DataFrame and [[SnapshotTables.overwriteTable]] does the
  *    distributed write + commit; no row ever passes the driver;
  *  - `DELETE FROM` / `UPDATE` / `MERGE INTO` are rewritten by
  *    [[graft.plans.SnapshotDmlRule]] onto the snapshot COW
  *    implementations.
  *
  * Multi-writer semantics are [[SnapshotTables]]' own: concurrent
  * INSERTs race on the version CAS; losers throw
  * `ConcurrentCommitException` rather than silently interleaving.
  */
class SnapshotCatalog extends TableCatalog with SupportsNamespaces with StagingTableCatalog
    with ProcedureCatalog {

  private var catalogName: String = _
  private var rootPath: String = _
  private var retention: Int = 10
  private var commitLogPath: Option[String] = None

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    rootPath = Option(options.get("root")).getOrElse(throw new IllegalArgumentException(
      s"SnapshotCatalog '$name' needs spark.sql.catalog.$name.root=<dir>"))
    retention = Option(options.get("retention")).map(_.toInt).getOrElse(10)
    commitLogPath = Option(options.get("commitlog"))
  }

  /** LOG-GOVERNED mode (`spark.sql.catalog.<name>.commitlog=<dir>`) —
    * the SQL face of the [[graft.io.CommitLog]] (through its
    * [[graft.io.LakeCommits]] face), the reference's Nessie
    * catalog semantics: reads resolve each table's version from the
    * commit log's HEAD (per statement), so a table version committed
    * but not yet published is invisible to SQL; writes and DML
    * publish-through (each statement appends a log commit pinning the
    * exact version it created — read-your-writes preserved).
    * Multi-table atomicity stays with [[graft.io.LakeCommits
    * .publishBranches]]: stage per-table WAP branches, publish once,
    * and SQL readers flip from the old silver+gold pair to the new
    * pair with no intermediate. Version resolution is per-STATEMENT;
    * the strict one-head-for-N-frames guarantee is the API's
    * [[graft.io.LakeCommits.readAll]]. */
  private[graft] def lake: Option[graft.io.LakeCommits] =
    commitLogPath.map(p => new graft.io.LakeCommits(spark, p))

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active
  private def hconf = spark.sparkContext.hadoopConfiguration

  /** One SnapshotTables per namespace directory. Constructed on demand
    * — the instance is a thin path-holder, all state is on disk. */
  private[graft] def tablesFor(namespace: Array[String]): SnapshotTables =
    new SnapshotTables(spark, (rootPath +: namespace.toSeq).mkString("/"),
      previousVersionsMax = retention)

  private def nsDir(ns: Seq[String]): Path = new Path((rootPath +: ns).mkString("/"))

  // ----------------------------------------------------------------
  // TableCatalog
  // ----------------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    tablesFor(namespace).listTableNames().map(t => Identifier.of(namespace, t)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    tablesFor(ident.namespace).tableExists(ident.name)

  override def loadTable(ident: Identifier): Table = {
    val st = tablesFor(ident.namespace)
    if (!st.tableExists(ident.name)) {
      // `ns.t.history` / `ns.t.refs` / `ns.t.partitions` — metadata
      // tables (Iceberg's shapes). Only reachable when no real table
      // shadows the name and the parent `ns.t` IS a snapshot table.
      val isMeta = ident.name == HistoryMetadataTable.Name ||
        ident.name == RefsMetadataTable.Name || ident.name == PartitionsMetadataTable.Name
      if (isMeta && ident.namespace.nonEmpty) {
        val parentSt = tablesFor(ident.namespace.init)
        val parent = ident.namespace.last
        if (parentSt.tableExists(parent)) {
          val meta: Table =
            if (ident.name == HistoryMetadataTable.Name)
              new HistoryMetadataTable(fullName(ident), parentSt, parent)
            else if (ident.name == RefsMetadataTable.Name)
              new RefsMetadataTable(fullName(ident), parentSt, parent)
            else new PartitionsMetadataTable(fullName(ident), parentSt, parent)
          return meta
        }
      }
      throw new NoSuchTableException(ident)
    }
    lake match {
      case Some(lc) =>
        // log-governed: the head commit decides the visible version
        // (un-governed tables read their current version, as direct
        // LakeCommits.read does); writes publish-through
        val v = lc.pinnedVersion(st, ident.name).getOrElse(st.currentVersion(ident.name))
        new SnapshotTableV2(fullName(ident), st, ident.name, v,
          afterWrite = committed => lc.publishExact(Seq((st, ident.name, committed))))
      case None =>
        new SnapshotTableV2(fullName(ident), st, ident.name, st.currentVersion(ident.name))
    }
  }

  /** `VERSION AS OF` — accepts `3`, `v3`, or a WAP BRANCH name
    * (Iceberg's branch reads: `VERSION AS OF 'wip'` audits the staged
    * branch while plain reads keep seeing main; publish flips both).
    * A branch with no commits yet reads its fork base. Branch reads
    * are pinned — DML through them is refused like any time travel.
    * (A branch named like an integer is unreachable here — numbers
    * always mean versions.) */
  override def loadTable(ident: Identifier, version: String): Table = {
    val st = tablesFor(ident.namespace)
    version.stripPrefix("v").toIntOption match {
      case Some(v) =>
        if (!st.history(ident.name).contains(v)) throw new NoSuchTableException(ident)
        new SnapshotTableV2(fullName(ident), st, ident.name, v, pinnedVersion = true)
      case None =>
        val branch = version
        if (!st.tableExists(ident.name)) throw new NoSuchTableException(ident)
        if (st.branches(ident.name).contains(branch)) {
          val bt = st.branchTablesFor(ident.name)
          val bv = bt.currentVersion(branch)
          if (bv > 0)
            new SnapshotTableV2(s"${fullName(ident)}@$branch", bt, branch, bv, pinnedVersion = true)
          else // forked, nothing staged yet: the branch reads its base
            new SnapshotTableV2(s"${fullName(ident)}@$branch", st, ident.name,
              st.branchBase(ident.name, branch), pinnedVersion = true)
        } else if (st.tags(ident.name).exists(_._1 == branch))
          // TAG read (X116): a named immutable version pin — branches
          // shadow tags on a name collision
          new SnapshotTableV2(s"${fullName(ident)}@$branch", st, ident.name,
            st.tagVersion(ident.name, branch), pinnedVersion = true)
        else throw new NoSuchTableException(ident)
    }
  }

  /** `TIMESTAMP AS OF` — Spark passes MICROseconds since epoch. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val st = tablesFor(ident.namespace)
    st.versionAtTimestamp(ident.name, timestamp / 1000L) match {
      case Some(v) => new SnapshotTableV2(fullName(ident), st, ident.name, v, pinnedVersion = true)
      case None => throw new NoSuchTableException(ident)
    }
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val st = tablesFor(ident.namespace)
    if (st.tableExists(ident.name)) throw new TableAlreadyExistsException(ident)
    val (idCols, derived) = SnapshotCatalog.splitTransforms(partitions)
    val props = SnapshotCatalog.createProps(schema, properties)
    st.declareTable(ident.name, schema, idCols, derived)
    st.setProps(ident.name, props)
    loadTable(ident)
  }

  // ----------------------------------------------------------------
  // StagingTableCatalog — ATOMIC `CREATE OR REPLACE TABLE` (+AS
  // SELECT) with Iceberg's semantics: REPLACE is a NEW VERSION on the
  // same history line, not drop+create. Readers see the old content
  // until the staged write's single commit flips the version, prior
  // versions still time-travel across the replace, and an abort
  // rolls the line back instead of leaving half a table. (Without
  // this interface Spark falls back to non-atomic drop-then-create,
  // which wipes history — exactly what the snapshot model exists to
  // prevent.)
  // ----------------------------------------------------------------

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable = {
    val st = tablesFor(ident.namespace)
    if (st.tableExists(ident.name)) throw new TableAlreadyExistsException(ident)
    stage(ident, st, schema, partitions, properties, existedBefore = false)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable = {
    val st = tablesFor(ident.namespace)
    if (!st.tableExists(ident.name)) throw new NoSuchTableException(ident)
    stage(ident, st, schema, partitions, properties, existedBefore = true)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable = {
    val st = tablesFor(ident.namespace)
    stage(ident, st, schema, partitions, properties, existedBefore = st.tableExists(ident.name))
  }

  private def stage(ident: Identifier, st: SnapshotTables, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String],
      existedBefore: Boolean): StagedTable = {
    val (idCols, derived) = SnapshotCatalog.splitTransforms(partitions)
    // TBLPROPERTIES apply on the CTAS path too — applied before the
    // staged data write, so the very first commit already honors them
    val props = SnapshotCatalog.createProps(schema, properties)
    // re-declare schema + partitioning (REPLACE may change both; a
    // stale transform spec is cleared by declareTable)
    st.declareTable(ident.name, schema, idCols, derived)
    st.setProps(ident.name, props)
    val base = st.currentVersion(ident.name)
    val inner = lake match {
      case Some(lc) => new SnapshotTableV2(fullName(ident), st, ident.name, base,
        afterWrite = committed => lc.publishExact(Seq((st, ident.name, committed))))
      case None => new SnapshotTableV2(fullName(ident), st, ident.name, base)
    }
    new StagedSnapshotTable(inner, st, ident.name, schema, base, existedBefore)
  }

  /** Schema evolution through SQL — the Iceberg ALTER surface a
    * reference user actually runs: `ADD COLUMN(S)` (nullable,
    * top-level), `DROP COLUMN`, `RENAME COLUMN`. ADD and DROP are
    * METADATA-ONLY commits (Iceberg's evolution: one EMPTY version
    * whose declared schema changes; no data rewritten — the COW
    * alternative rewrites the whole table, an O(table) cliff at
    * 100 TB); old rows read NULL in an added column, dropped columns
    * project away, prior versions keep their own schema. RENAME stays
    * a copy-on-write commit (without field ids a projection cannot
    * map the old name). Partition columns are refused (layout
    * identity), as are nested-field edits and type changes (never
    * silent coercion). Column order follows the directory-partitioned
    * convention: partition columns read LAST, so an added column
    * lands before them. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    import org.apache.spark.sql.functions.{col, lit}
    val st = tablesFor(ident.namespace)
    val t = ident.name
    if (!st.tableExists(t)) throw new NoSuchTableException(ident)
    require(st.currentVersion(t) > 0,
      s"table ${fullName(ident)} has no committed version — declare the final schema at CREATE")
    val pcols = if (st.persistedTransforms(t).nonEmpty) Nil else st.currentPartitionCols(t)
    def refusePartition(c: String): Unit =
      require(!st.currentPartitionCols(t).contains(c), s"cannot alter partition column '$c'")
    // SET/UNSET TBLPROPERTIES of graft's keys (UNSET resets to the
    // default): every value parses, and names only real columns, before
    // any of them is written
    val keys = SnapshotTables.propKeys
    val propValue: PartialFunction[TableChange, (String, Option[String])] = {
      case set: TableChange.SetProperty if keys.contains(set.property) => set.property -> Some(set.value)
      case rm: TableChange.RemoveProperty if keys.contains(rm.property) => rm.property -> None
    }
    val props = SnapshotTables.propChanges(changes.collect(propValue).toMap, st.read(t).columns.toSeq)
    changes.filterNot(propValue.isDefinedAt).foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          s"only top-level ADD COLUMN is supported, got ${add.fieldNames.mkString(".")}")
        require(add.isNullable, "added columns must be nullable (existing rows read NULL)")
        st.addColumn(t, add.fieldNames.head, add.dataType) // metadata-only
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          s"only top-level DROP COLUMN is supported, got ${del.fieldNames.mkString(".")}")
        refusePartition(del.fieldNames.head)
        st.dropColumn(t, del.fieldNames.head) // metadata-only
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames.length == 1,
          s"only top-level RENAME COLUMN is supported, got ${ren.fieldNames.mkString(".")}")
        val from = ren.fieldNames.head
        refusePartition(from)
        val cur = st.read(t)
        require(cur.columns.contains(from), s"no column '$from'")
        require(!cur.columns.contains(ren.newName), s"column '${ren.newName}' already exists")
        st.overwriteTable(cur.select(cur.columns.toSeq.map(c =>
          if (c == from) col(c).as(ren.newName) else col(c)): _*), t, pcols)
      case other =>
        throw new UnsupportedOperationException(
          s"unsupported ALTER TABLE change ${other.getClass.getSimpleName} — " +
            "supported: ADD/DROP/RENAME top-level columns, " +
            s"SET/UNSET TBLPROPERTIES (${keys.map(k => s"'$k'").mkString(", ")}); " +
            "type changes never coerce silently")
    }
    st.setProps(t, props)
    // log-governed: ALTER publishes through like any other SQL write —
    // without this the evolved version would stay invisible to log
    // readers until the next published write
    lake.foreach(lc => lc.publishExact(Seq((st, t, st.currentVersion(t)))))
    loadTable(ident)
  }

  // ----------------------------------------------------------------
  // ProcedureCatalog — `CALL cat.system.<proc>(...)` maintenance
  // surface (Iceberg's procedure shape); see [[SnapshotProcedures]].
  // ----------------------------------------------------------------

  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    SnapshotProcedures.load(this, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    SnapshotProcedures.list(namespace)

  override def dropTable(ident: Identifier): Boolean =
    tablesFor(ident.namespace).dropTableDir(ident.name)

  override def renameTable(oldIdent: Identifier, newIdentRaw: Identifier): Unit = {
    // RENAME TO may arrive catalog-qualified (`cat.ns.tab`) — strip the
    // leading catalog segment so the namespace comparison is ns-to-ns
    val newIdent =
      if (newIdentRaw.namespace.length == oldIdent.namespace.length + 1 &&
          newIdentRaw.namespace.head == catalogName)
        Identifier.of(newIdentRaw.namespace.tail, newIdentRaw.name)
      else newIdentRaw
    require(oldIdent.namespace.sameElements(newIdent.namespace),
      "rename across namespaces is not supported")
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    val from = new Path(nsDir(oldIdent.namespace.toSeq), oldIdent.name)
    val to = new Path(nsDir(newIdent.namespace.toSeq), newIdent.name)
    if (!from.getFileSystem(hconf).rename(from, to))
      throw new IllegalStateException(s"rename $from -> $to failed")
  }

  private def fullName(ident: Identifier): String =
    (catalogName +: ident.namespace.toSeq :+ ident.name).mkString(".")

  // ----------------------------------------------------------------
  // SupportsNamespaces — a namespace is a directory; a directory is a
  // table iff it carries a metadata dir, so the two never collide.
  // ----------------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val r = nsDir(Nil)
    val f = r.getFileSystem(hconf)
    if (!f.exists(r)) Array.empty
    else f.listStatus(r).toSeq
      .filter(s => s.isDirectory && !s.getPath.getName.startsWith("."))
      .map(_.getPath.getName)
      .filterNot(n => f.exists(new Path(new Path(r, n), "metadata")))
      .sorted
      .map(n => Array(n))
      .toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else {
      if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
      val r = nsDir(namespace.toSeq)
      val f = r.getFileSystem(hconf)
      f.listStatus(r).toSeq
        .filter(s => s.isDirectory && !s.getPath.getName.startsWith("."))
        .map(_.getPath.getName)
        .filterNot(n => f.exists(new Path(new Path(r, n), "metadata")))
        .sorted
        .map(n => namespace :+ n)
        .toArray
    }

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val d = nsDir(namespace.toSeq)
    namespace.isEmpty || d.getFileSystem(hconf).exists(d)
  }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    new util.HashMap[String, String]()
  }

  override def createNamespace(namespace: Array[String], metadata: util.Map[String, String]): Unit = {
    val d = nsDir(namespace.toSeq)
    d.getFileSystem(hconf).mkdirs(d)
    ()
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val d = nsDir(namespace.toSeq)
    val f = d.getFileSystem(hconf)
    if (!f.exists(d)) false
    else {
      if (!cascade && f.listStatus(d).nonEmpty)
        throw new IllegalStateException(s"namespace ${namespace.mkString(".")} is not empty")
      f.delete(d, true)
    }
  }
}

/** One staged CREATE/REPLACE: writes route through the wrapped
  * [[SnapshotTableV2]] with truncate-always (the staged query's output
  * IS the table's full new content), so the data write's own fenced
  * commit is the atomic flip. A REPLACE with no AS SELECT commits an
  * empty snapshot at finalize so readers flip to the declared empty
  * table. Abort restores: rollback to the pre-stage version (REPLACE)
  * or drop the declared dir (CREATE that never existed). */
private final class StagedSnapshotTable(
    inner: SnapshotTableV2,
    st: SnapshotTables,
    table: String,
    declared: StructType,
    baseVersion: Int,
    existedBefore: Boolean
) extends StagedTable with SupportsRead with SupportsWrite {
  import org.apache.spark.sql.connector.read.ScanBuilder
  import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, WriteBuilder}

  @volatile private var wrote = false

  override def name(): String = inner.name()
  override def schema(): StructType = declared
  override def partitioning(): Array[Transform] = inner.partitioning()
  override def properties(): util.Map[String, String] = inner.properties()
  override def capabilities(): util.Set[TableCapability] = inner.capabilities()
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    inner.newScanBuilder(options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    wrote = true
    inner.newWriteBuilder(info).asInstanceOf[SupportsTruncate].truncate()
      .asInstanceOf[WriteBuilder]
  }

  override def commitStagedChanges(): Unit =
    if (!wrote && existedBefore) {
      // REPLACE without AS SELECT: flip readers to the declared EMPTY
      // table — committed as a real (empty) version on the same line
      val s = st.sparkSession
      val empty = s.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), declared)
      st.overwriteTable(empty, table, st.declaredPartitionCols(table))
      inner.notifyCommitted()
    } // data writes already committed (and published, when governed)

  override def abortStagedChanges(): Unit =
    if (!existedBefore) st.dropTableDir(table)
    else if (st.currentVersion(table) > baseVersion && baseVersion > 0)
      st.rollback(table, baseVersion)
}

object SnapshotCatalog {

  /** CREATE / CTAS / REPLACE TBLPROPERTIES as validated property
    * changes — taken BEFORE the table is (re-)declared, so an invalid
    * value (a bad write mode, a non-numeric retention, a column the
    * schema lacks) fails the statement with no on-disk side effect. */
  private[graft] def createProps(schema: StructType,
      properties: util.Map[String, String]): Seq[SnapshotTables.PropChange[_]] = {
    import scala.jdk.CollectionConverters._
    SnapshotTables.propChanges(properties.asScala.toMap.map { case (k, v) => k -> Option(v) },
      schema.fieldNames.toSeq)
  }

  /** V2 partition transforms → the snapshot layer's vocabulary:
    * identity columns partition by directory; `days`/`bucket`/
    * `truncate` become HIDDEN transforms ([[SnapshotTables
    * .PartitionTransform]]) every later commit re-derives. */
  private[graft] def splitTransforms(partitions: Array[Transform])
      : (Seq[String], Seq[SnapshotTables.PartitionTransform]) = {
    import SnapshotTables.PartitionTransform
    val idCols = Seq.newBuilder[String]
    val derived = Seq.newBuilder[PartitionTransform]
    partitions.foreach { t =>
      // match on the public Transform surface (name/references/
      // arguments) — the concrete case classes are private[sql]
      val refs = t.references().map(_.fieldNames().mkString("."))
      def intArg: Int = t.arguments().collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value().asInstanceOf[Number].intValue()
      }.getOrElse(throw new IllegalArgumentException(s"transform $t needs an int argument"))
      t.name() match {
        case "identity" => idCols += refs.head
        case "days" => derived += PartitionTransform.days(refs.head)
        case "bucket" => derived += PartitionTransform.bucket(intArg, refs.head)
        case "truncate" => derived += PartitionTransform.truncate(intArg, refs.head)
        case other =>
          throw new UnsupportedOperationException(s"unsupported partition transform: $other")
      }
    }
    (idCols.result(), derived.result())
  }

  /** The snapshot vocabulary back to V2 transforms (DESCRIBE output). */
  private[graft] def toV2Transforms(idCols: Seq[String],
      derived: Seq[SnapshotTables.PartitionTransform]): Array[Transform] = {
    val ids = idCols.map(c => Expressions.identity(c))
    val ds = derived.map { t =>
      val label = t.name.stripPrefix("__p_").stripSuffix(s"_${t.srcCol}")
      if (label == "days") Expressions.days(t.srcCol)
      else if (label.startsWith("bucket")) Expressions.bucket(label.stripPrefix("bucket").toInt, t.srcCol)
      else Expressions.apply("truncate",
        Expressions.literal(label.stripPrefix("trunc").toInt), Expressions.column(t.srcCol))
    }
    (ids ++ ds).toArray
  }
}
