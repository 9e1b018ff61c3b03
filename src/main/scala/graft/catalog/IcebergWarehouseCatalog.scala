package graft.catalog

import graft.io.{IcebergAppend, IcebergImport}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util

/** Spark V2 `TableCatalog` over a warehouse directory of FOREIGN
  * Iceberg tables — 3-level-name SQL on tables graft did not write and
  * carries no jars for. The reference's entire SQL surface is 3-level
  * names over Iceberg catalogs (`job_gold.py:50-58` registers the
  * catalogs; `:71-88` reads `silver.dw.tab_brewery` verbatim) — with
  * this mount a migrating user's scripts keep their spelling while the
  * TVF faces (`graft_iceberg_scan`) stay available for by-path access:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.ice", "graft.catalog.IcebergWarehouseCatalog")
  *   spark.conf.set("spark.sql.catalog.ice.warehouse", "/lake/warehouse")
  *   spark.sql("SELECT ... FROM ice.db.tab WHERE ...")          // read
  *   spark.sql("SELECT ... FROM ice.db.tab VERSION AS OF 'tag'") // ref/snapshot/timestamp travel
  *   spark.sql("INSERT INTO ice.db.tab SELECT ...")             // IcebergAppend commit
  *   spark.sql("INSERT OVERWRITE ice.db.tab SELECT ...")        // one replace snapshot
  *   spark.sql("DELETE FROM ice.db.tab WHERE ...")              // IcebergDml equality deletes
  *   spark.sql("UPDATE ice.db.tab SET ... WHERE ...")           // IcebergDml overwrite snapshot
  * }}}
  *
  * Layout: `<warehouse>/<db>/<table>` where a table directory is one
  * carrying `metadata/` (the HadoopCatalog convention). Reads resolve
  * through [[graft.plans.IcebergForeignRule]], which substitutes the
  * relation with [[IcebergImport.read]]'s plan at analysis time —
  * row-level deletes applied, field-id/name-mapping projection,
  * manifest pruning ([[graft.plans.IcebergScanPruneRule]] recognizes
  * the substituted scans) all identical to the TVF path. Writes go
  * through a V1 fallback onto [[IcebergAppend]] — the same spec-shaped
  * optimistic commits as the Scala face.
  *
  * DDL stays refused here: the warehouse is externally OWNED; schema
  * evolution and maintenance go through the explicit CALL faces
  * (`iceberg_rename_column`, `iceberg_compact`, ...) which say what
  * they do to someone else's table.
  */
class IcebergWarehouseCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var warehouse: String = _
  private var commitLogRoot: Option[String] = None
  private var lakeUri: Option[String] = None
  private var restUri: Option[String] = None

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(throw new IllegalArgumentException(
      s"IcebergWarehouseCatalog '$name' needs spark.sql.catalog.$name.warehouse=<dir>"))
    // LOG-GOVERNED mount (the Nessie capability on foreign tables,
    // X136): reads resolve the snapshot the CommitLog head pins (its
    // IcebergLakeCommits face) — unpublished table-line commits are
    // invisible to SQL.
    // Three transports: `commitlog=<dir>` reads the numbered-commit
    // log off shared storage; `uri=http://…` (r18 — how the
    // reference's own deployment registers its catalog,
    // datalake_gold_spark_dag.py:181-186) resolves the same pins over
    // the Nessie-v2-shaped wire (NessieServer); `uri=` +
    // `type=rest-shape` (r19, X144) resolves the Iceberg REST
    // protocol's catalog-pinned metadata (IcebergRestHttpServer) —
    // the wire real deployments converge on.
    commitLogRoot = Option(options.get("commitlog"))
    val uriOpt = Option(options.get("uri"))
    val tpe = Option(options.get("type"))
    require(tpe.forall(_ == "rest-shape"),
      s"IcebergWarehouseCatalog '$name': unknown type='${tpe.get}' — the only protocol " +
        "selector is type=rest-shape (the Iceberg REST wire); omit for the Nessie-v2 wire")
    restUri = if (tpe.contains("rest-shape")) uriOpt else None
    // type=rest-shape WITHOUT uri= must refuse at initialize: letting it
    // through would leave restUri=None AND lakeUri=None — an ungoverned
    // mount whose reads silently resolve each table's own directory head,
    // defeating the catalog-pin governance the mount claims.
    require(!tpe.contains("rest-shape") || uriOpt.isDefined,
      s"IcebergWarehouseCatalog '$name': type=rest-shape needs uri=<catalog url>")
    lakeUri = if (tpe.contains("rest-shape")) None else uriOpt
    require(commitLogRoot.isEmpty || uriOpt.isEmpty,
      s"IcebergWarehouseCatalog '$name': configure ONE of commitlog= (shared-filesystem " +
        "log) or uri= (HTTP catalog), not both")
  }

  private def lake: Option[graft.io.IcebergLakeCommits] =
    commitLogRoot.map(r => new graft.io.IcebergLakeCommits(spark, r))

  // one wire client per mount (the JDK HttpClient pools connections)
  private lazy val remote: Option[graft.io.RemoteIcebergLake] =
    lakeUri.map(u => new graft.io.RemoteIcebergLake(u))
  private lazy val rest: Option[graft.io.RemoteIcebergRest] =
    restUri.map(u => new graft.io.RemoteIcebergRest(u))

  /** The governed pin for `dir`, whichever transport is mounted. The
    * REST protocol addresses tables by (namespace, name), not dir —
    * the catalog-pinned metadata's current snapshot is the pin. */
  private def pinFor(dir: String, ident: Identifier): Option[Long] =
    lake.flatMap(_.pinnedSnapshot(dir))
      .orElse(remote.flatMap(_.pinnedSnapshot(dir)))
      .orElse(rest.flatMap(_.pinnedSnapshot(ident.namespace.mkString("/"), ident.name)))

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active
  private def hconf = spark.sparkContext.hadoopConfiguration

  /** A rest-shape mount resolves the identifier's storage directory
    * through the catalog (the LoadTableResult metadata's `location`) —
    * the wire owns identifier→storage, so a table renamed through the
    * protocol keeps reading its original files. Directory mounts keep
    * the warehouse-path convention. */
  private def dirOf(ident: Identifier): String = {
    val byPath = (warehouse +: ident.namespace.toSeq :+ ident.name).mkString("/")
    rest match {
      case Some(r) =>
        r.loadTable(ident.namespace.mkString("/"), ident.name)
          .map { case (_, md) =>
            if (md.hasNonNull("location")) md.get("location").asText else byPath
          }.getOrElse(byPath)
      case None => byPath
    }
  }

  private def isTableDir(p: Path): Boolean = {
    val f = p.getFileSystem(hconf)
    f.exists(new Path(p, "metadata"))
  }

  private def fullName(ident: Identifier): String =
    (catalogName +: ident.namespace.toSeq :+ ident.name).mkString(".")

  // ----------------------------------------------------------------
  // TableCatalog — read + write; DDL refuses (externally-owned tables)
  // ----------------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = rest match {
    case Some(r) =>
      if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
      // the paginated walk — how a real client lists a big namespace
      r.tables(namespace.mkString("/"), pageSize = Some(1000))
        .map(Identifier.of(namespace, _)).toArray
    case None =>
      if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
      val d = new Path((warehouse +: namespace.toSeq).mkString("/"))
      val f = d.getFileSystem(hconf)
      f.listStatus(d).toSeq
        .filter(s => s.isDirectory && isTableDir(s.getPath))
        .map(s => Identifier.of(namespace, s.getPath.getName))
        .sortBy(_.name())
        .toArray
  }

  override def tableExists(ident: Identifier): Boolean = rest match {
    case Some(r) => r.loadTable(ident.namespace.mkString("/"), ident.name).isDefined
    case None => isTableDir(new Path(dirOf(ident)))
  }

  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = dirOf(ident)
    // log-governed reads pin the published snapshot (a table the log
    // does not govern yet reads its own head); writes stay allowed —
    // they land on the table line and become visible at the next
    // publish, exactly the Nessie trade
    val pin = pinFor(dir, ident)
    new IcebergForeignTable(fullName(ident), dir, pin, pinned = false)
  }

  /** `VERSION AS OF` — a snapshot id, or a named ref (tag/branch). */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = dirOf(ident)
    val snap = version.toLongOption.getOrElse {
      val refs = IcebergImport.refs(spark, dir)
      refs.getOrElse(version, throw new NoSuchTableException(ident))._1
    }
    require(IcebergImport.snapshots(spark, dir).contains(snap),
      s"snapshot $snap not in ${fullName(ident)}")
    new IcebergForeignTable(s"${fullName(ident)}@$version", dir, Some(snap), pinned = true)
  }

  /** `TIMESTAMP AS OF` — Spark passes MICROseconds since epoch. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = dirOf(ident)
    val snap = IcebergImport.snapshotAtTimestamp(spark, dir, timestamp / 1000L)
      .getOrElse(throw new NoSuchTableException(ident))
    new IcebergForeignTable(s"${fullName(ident)}@$snap", dir, Some(snap), pinned = true)
  }

  private def refuseDdl(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"$what is refused on catalog '$catalogName': a foreign Iceberg warehouse is " +
        "externally owned — evolve/maintain through the explicit CALL faces " +
        "(iceberg_rename_column, iceberg_add_column, iceberg_compact, ...)")

  /** Spark type → Iceberg schema-document primitive (the verbatim
    * string the wire's CreateTableRequest carries). */
  private def icebergTypeOf(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => "long"
      case IntegerType | ShortType | ByteType => "int"
      case StringType => "string"
      case DoubleType => "double"
      case FloatType => "float"
      case BooleanType => "boolean"
      case DateType => "date"
      case TimestampType => "timestamptz"
      case TimestampNTZType => "timestamp"
      case BinaryType => "binary"
      case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
      case other => throw new UnsupportedOperationException(
        s"CREATE TABLE through the REST mount maps primitive columns; got $other — " +
          "create nested schemas through the wire client (RemoteIcebergRest.createTable) " +
          "with an explicit Iceberg schema document")
    }
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = rest match {
    case None => refuseDdl("CREATE TABLE")
    case Some(r) =>
      import graft.io.Json.escape
      val fields = schema.fields.zipWithIndex.map { case (f, i) =>
        s"""{"id":${i + 1},"name":"${escape(f.name)}","required":${!f.nullable},""" +
          s""""type":"${icebergTypeOf(f.dataType)}"}"""
      }.mkString(",")
      val idOf = schema.fieldNames.zipWithIndex.map { case (n, i) => n -> (i + 1) }.toMap
      val specFields = partitions.toSeq.zipWithIndex.map { case (tr, i) =>
        require(tr.name == "identity",
          s"CREATE TABLE through the REST mount supports identity partitioning; " +
            s"got transform '${tr.name}' — use the wire client for hidden-partition specs")
        val col = tr.references.head.fieldNames.mkString(".")
        s"""{"name":"${escape(col)}","transform":"identity","source-id":${idOf(col)},""" +
          s""""field-id":${1000 + i}}"""
      }
      import scala.jdk.CollectionConverters._
      val reserved = Set("provider", "location", "owner", "external")
      val props = properties.asScala.filterNot { case (k, _) => reserved(k.toLowerCase) }
      r.createTable(ident.namespace.mkString("/"), ident.name,
        s"""{"type":"struct","schema-id":0,"fields":[$fields]}""",
        if (specFields.isEmpty) None
        else Some(s"""{"fields":[${specFields.mkString(",")}]}"""),
        if (props.isEmpty) None
        else Some(props.map { case (k, v) => s""""${escape(k)}":"${escape(v)}"""" }
          .mkString("{", ",", "}")))
      loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    refuseDdl("ALTER TABLE")

  override def dropTable(ident: Identifier): Boolean = rest match {
    case Some(r) => r.dropTable(ident.namespace.mkString("/"), ident.name)
    case None => refuseDdl("DROP TABLE")
  }

  override def purgeTable(ident: Identifier): Boolean = rest match {
    case Some(r) => r.dropTable(ident.namespace.mkString("/"), ident.name, purge = true)
    case None => refuseDdl("DROP TABLE PURGE")
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = rest match {
    case Some(r) =>
      try r.renameTable(oldIdent.namespace.mkString("/"), oldIdent.name,
        newIdent.namespace.mkString("/"), newIdent.name)
      catch { case _: NoSuchElementException => throw new NoSuchTableException(oldIdent) }
    case None => refuseDdl("RENAME TABLE")
  }

  // ----------------------------------------------------------------
  // SupportsNamespaces — a namespace is a directory without metadata/
  // ----------------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = rest match {
    case Some(r) => r.namespaces().map(Array(_)).toArray
    case None =>
      val r = new Path(warehouse)
      val f = r.getFileSystem(hconf)
      if (!f.exists(r)) Array.empty
      else f.listStatus(r).toSeq
        .filter(s => s.isDirectory && !s.getPath.getName.startsWith(".") &&
          !isTableDir(s.getPath))
        .map(s => Array(s.getPath.getName))
        .sortBy(_.head)
        .toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else {
      if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
      Array.empty
    }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || (rest match {
      case Some(r) => r.namespaceExists(namespace.mkString("/"))
      case None =>
        val d = new Path((warehouse +: namespace.toSeq).mkString("/"))
        d.getFileSystem(hconf).exists(d)
    })

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    rest match {
      case Some(r) =>
        val props = r.namespaceProperties(namespace.mkString("/"))
          .getOrElse(throw new NoSuchNamespaceException(namespace))
        val m = new util.HashMap[String, String]()
        props.foreach { case (k, v) => m.put(k, v) }
        m
      case None =>
        if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
        new util.HashMap[String, String]()
    }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = rest match {
    case Some(r) =>
      import scala.jdk.CollectionConverters._
      r.createNamespace(namespace.mkString("/"),
        metadata.asScala.filterNot { case (k, _) => k.toLowerCase == "owner" }.toMap)
    case None => refuseDdl("CREATE NAMESPACE")
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    rest match {
      case Some(r) =>
        val sets = changes.collect { case s: NamespaceChange.SetProperty => s.property -> s.value }
        val removes = changes.collect { case d: NamespaceChange.RemoveProperty => d.property }
        require(sets.size + removes.size == changes.size,
          s"ALTER NAMESPACE through the REST mount supports SET/UNSET PROPERTIES; got " +
            changes.map(_.getClass.getSimpleName).mkString(", "))
        r.updateNamespaceProperties(namespace.mkString("/"), sets.toMap, removes.toSeq)
        ()
      case None => refuseDdl("ALTER NAMESPACE")
    }

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = rest match {
    case Some(r) =>
      val ns = namespace.mkString("/")
      if (cascade) r.tables(ns, pageSize = Some(1000)).foreach(t => r.dropTable(ns, t))
      r.dropNamespace(ns)
    case None => refuseDdl("DROP NAMESPACE")
  }
}

/** One mounted foreign Iceberg table. Scans are SUBSTITUTED at
  * analysis time by [[graft.plans.IcebergForeignRule]] with
  * [[IcebergImport.read]]'s resolved plan (deletes applied, projection
  * rules, manifest pruning); reaching `newScanBuilder` means the rule
  * is not active. Writes are a V1 fallback onto [[IcebergAppend]]:
  * INSERT INTO = one append snapshot, INSERT OVERWRITE = one REPLACE
  * snapshot (carryPrevious=false — the same atomic shape as
  * [[graft.io.IcebergMaintenance.compact]]). */
private[graft] final class IcebergForeignTable(
    fullName: String,
    private[graft] val dir: String,
    private[graft] val snapshotId: Option[Long],
    private[graft] val pinned: Boolean
) extends Table with SupportsRead with SupportsWrite {

  private def spark: SparkSession = SparkSession.active

  override def name(): String = fullName

  override lazy val schema: StructType = IcebergImport.tableSchema(spark, dir)

  override def partitioning(): Array[Transform] = Array.empty

  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    m.put("provider", "graft-iceberg-foreign")
    m.put("location", dir)
    snapshotId.foreach(s => m.put("snapshot-id", s.toString))
    m
  }

  override def capabilities(): util.Set[TableCapability] = {
    val s = new util.HashSet[TableCapability]()
    s.add(TableCapability.BATCH_READ)
    s.add(TableCapability.V1_BATCH_WRITE)
    s.add(TableCapability.TRUNCATE)
    s
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    throw new IllegalStateException(
      s"$fullName is a foreign Iceberg table — scans resolve through " +
        "graft.plans.IcebergForeignRule; enable spark.sql.extensions=graft.GraftExtensions")

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(!pinned, s"cannot write to $fullName pinned by time travel (read-only)")
    new WriteBuilder with SupportsTruncate {
      private var truncateAll = false
      override def truncate(): WriteBuilder = { truncateAll = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation = new InsertableRelation {
          override def insert(data: org.apache.spark.sql.DataFrame, overwrite: Boolean): Unit = {
            val s = data.sparkSession
            if (truncateAll || overwrite)
              // INSERT OVERWRITE: one REPLACE snapshot — readers see
              // the old content or the new, never both
              IcebergAppend.overwrite(s, dir, data)
            else IcebergAppend.append(s, dir, data)
            ()
          }
        }
      }
    }
  }
}
