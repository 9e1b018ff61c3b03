package graft.io

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types._

/** The bridge's one ICEBERG METADATA CODEC — every metadata file,
  * manifest list and manifest graft reads is decoded here, and every
  * one it writes is encoded here, from the public table spec
  * (https://iceberg.apache.org/spec/):
  *
  *  - [[load]]: the head metadata file as a [[TableMetadata]] —
  *    snapshots, refs, `snapshot-log`, properties, current schema and
  *    specs decoded once; its [[TableMetadata.ancestors]] is the one
  *    parent-chain walk, [[TableMetadata.manifests]] and
  *    [[TableMetadata.entries]] decode lists and manifests into the
  *    same [[ManifestListEntry]]/[[ManifestEntry]] values the writers
  *    encode;
  *  - [[writeManifest]]: typed [[ManifestEntry]]/[[DataFile]] values
  *    into one Avro container under ONE header rule — `schema`,
  *    `schema-id`, `partition-spec`, `partition-spec-id`,
  *    `format-version` and `content`, the spec's manifest metadata. Per
  *    entry differences (explicit vs inherited sequence numbers,
  *    `equality_ids`, the v3 DV triple, stats maps, `file_format`) are
  *    data on the entry, never writer flags;
  *  - [[writeManifestList]]: typed [[ManifestListEntry]] values —
  *    carried ([[TableMetadata.manifests]]), replaced (a decoded entry
  *    `copy`) and new (what [[writeManifest]] returns) — under the
  *    list's `snapshot-id`/`parent-snapshot-id`/`sequence-number`/
  *    `format-version` keys;
  *  - [[commit]]: claims `v<hint+1>.metadata.json` through the commit
  *    CAS ([[AtomicFs.createExclusive]] — link(2) on the local FS, so
  *    two racing writers can never both win) and moves
  *    `version-hint.text` with [[AtomicFs.replaceSmall]]. A lost claim
  *    throws [[CommitConflictException]] naming the version file.
  *
  * Every container is created WITHOUT overwrite: manifest and list
  * names carry a per-writer UUID, so a collision is a bug, never a
  * race to paper over.
  */
private[io] object IcebergMetadata {

  private val om = new ObjectMapper()

  // ------------------------------------------------------------------
  // the read half: metadata JSON, snapshot lineage, manifests
  // ------------------------------------------------------------------

  /** The table's metadata file at `tableDir`'s head, decoded. */
  def load(fs: FileSystem, tableDir: String): TableMetadata = {
    val mdPath = IcebergImport.latestMetadata(fs, new Path(tableDir, "metadata"))
    val in = fs.open(mdPath)
    val json = try om.readTree(in).asInstanceOf[ObjectNode] finally in.close()
    new TableMetadata(fs, tableDir, mdPath, json)
  }

  /** [[load]] as (metadata file, mutable JSON), for an edit-and-[[commit]]. */
  def loadHead(fs: FileSystem, tableDir: String): (Path, ObjectNode) = {
    val tm = load(fs, tableDir)
    (tm.path, tm.json)
  }

  /** One metadata document's `current-snapshot-id`; None when absent or
    * -1 (no snapshot yet). */
  def currentOf(md: JsonNode): Option[Long] =
    child(md, "current-snapshot-id").map(_.asLong).filter(_ != -1L)

  /** One metadata document's `snapshots`, in file order. */
  def snapshotsOf(md: JsonNode): Seq[Snapshot] = nodes(md.get("snapshots")).map { s =>
    def long(k: String) = child(s, k).map(_.asLong)
    Snapshot(s.get("snapshot-id").asLong, long("parent-snapshot-id"), long("sequence-number"),
      long("timestamp-ms").getOrElse(0L), texts(s, "summary"),
      child(s, "manifest-list").map(_.asText), child(s, "manifests").map(nodes(_).map(_.asText)), s)
  }

  private def nodes(a: JsonNode): Seq[JsonNode] =
    if (a == null || a.isNull) Nil else (0 until a.size).map(a.get)
  private def child(n: JsonNode, k: String): Option[JsonNode] = Option(n.get(k)).filterNot(_.isNull)
  /** The members of object `n.k`, in document order. */
  private def members(n: JsonNode, k: String): Seq[(String, JsonNode)] =
    child(n, k).toSeq.flatMap(o => o.fieldNames().asScala.map(f => f -> o.get(f)))
  private def texts(n: JsonNode, k: String): Map[String, String] =
    members(n, k).map { case (f, v) => f -> v.asText }.toMap

  /** One snapshot: `manifestList`, or a v1 snapshot's inline `manifests`.
    * `json` is the snapshot's own node (carried verbatim by writers). */
  final case class Snapshot(id: Long, parent: Option[Long], sequence: Option[Long],
      timestampMs: Long, summary: Map[String, String],
      manifestList: Option[String], inlineManifests: Option[Seq[String]], json: JsonNode) {
    def operation: Option[String] = summary.get("operation")
  }

  /** A named ref: the snapshot it pins and its type (`branch`/`tag`). */
  final case class Ref(snapshotId: Long, kind: String)

  /** One top-level field of the current schema; `field` is its Spark
    * field (carrying the Iceberg id as `parquet.field.id`), None when
    * the type mapping does not cover it. */
  final case class SchemaField(id: Int, name: String, field: Option[StructField], json: JsonNode)

  /** One partition-spec field. v1 specs assign field ids from 1000. */
  final case class SpecField(name: String, transform: String, sourceId: Int, fieldId: Int)

  /** A partition spec; `json` is its fields array, carried verbatim into
    * manifest headers. */
  final case class PartitionSpec(id: Int, fields: Seq[SpecField], json: JsonNode)

  /** The type mapping's own refusal: an Iceberg type with no Spark
    * counterpart here. A field of that type just has no Spark field. */
  final class UnmappedIcebergType(t: String) extends IllegalArgumentException(s"unmapped Iceberg type $t")

  /** A table's metadata file, decoded once: format version, current
    * snapshot, snapshots, refs, `snapshot-log`, properties, current
    * schema and partition specs. `json` is the parsed document itself
    * — writers edit it and [[commit]] it, so foreign fields ride
    * through unchanged; the decoded views are the state as loaded. */
  final class TableMetadata(val fs: FileSystem, val tableDir: String, val path: Path,
      val json: ObjectNode) {

    val formatVersion: Int = if (json.has("format-version")) json.get("format-version").asInt else 1
    require(formatVersion >= 1 && formatVersion <= 3,
      s"unsupported Iceberg format-version $formatVersion at $path")

    val current: Option[Long] = currentOf(json)
    val snapshots: Seq[Snapshot] = snapshotsOf(json)
    private lazy val byId: Map[Long, Snapshot] = snapshots.map(s => s.id -> s).toMap

    val refs: Map[String, Ref] = members(json, "refs").map { case (n, v) =>
      n -> Ref(v.get("snapshot-id").asLong, child(v, "type").fold("branch")(_.asText))
    }.toMap

    /** (timestamp-ms, snapshot id) entries, in log order. */
    val snapshotLog: Seq[(Long, Long)] =
      nodes(json.get("snapshot-log")).map(e => (e.get("timestamp-ms").asLong, e.get("snapshot-id").asLong))

    val properties: Map[String, String] = texts(json, "properties")
    val lastSequence: Long = child(json, "last-sequence-number").fold(0L)(_.asLong)
    val nextRowId: Long = child(json, "next-row-id").fold(0L)(_.asLong)

    /** The current snapshot, refusing a table that has none. */
    def head: Long = current.getOrElse(throw new IllegalArgumentException(s"no current snapshot in $path"))

    /** The qualified table root. */
    def root: String = fs.makeQualified(new Path(tableDir)).toString

    /** The current schema node: the `schemas` entry whose `schema-id` is
      * `current-schema-id` (the first schema when the id is absent),
      * else the v1 single `schema` — null when the metadata has neither.
      * A `current-schema-id` no schema carries is a corrupt table:
      * reading another schema would project the wrong columns, so it
      * refuses. */
    lazy val schemaNode: JsonNode = {
      val schemas = nodes(json.get("schemas"))
      if (schemas.isEmpty) json.get("schema")
      else if (!json.has("current-schema-id")) schemas.head
      else {
        val want = json.get("current-schema-id").asInt
        schemas.find(s => s.has("schema-id") && s.get("schema-id").asInt == want)
          .getOrElse(throw new IllegalArgumentException(
            s"current-schema-id $want of $path names no schema in its schemas list"))
      }
    }
    lazy val schemaId: Int =
      if (schemaNode != null && schemaNode.has("schema-id")) schemaNode.get("schema-id").asInt else 0

    /** The current schema's top-level fields, in order. */
    lazy val schema: Seq[SchemaField] = Option(schemaNode).toSeq.flatMap(s => nodes(s.get("fields"))).map { f =>
      val field = try Some(structFieldOf(f)) catch { case _: UnmappedIcebergType => None }
      SchemaField(f.get("id").asInt, f.get("name").asText, field, f)
    }
    lazy val fieldNames: Map[Int, String] = schema.map(f => f.id -> f.name).toMap
    /** Field id → Spark type, for the fields the mapping covers. */
    lazy val fieldTypes: Map[Int, DataType] = schema.flatMap(f => f.field.map(f.id -> _.dataType)).toMap
    /** The current schema as a Spark type; None when it is absent or a
      * field's type is unmapped. */
    lazy val sparkSchema: Option[StructType] =
      if (schemaNode == null || schemaNode.get("fields") == null || schema.exists(_.field.isEmpty)) None
      else Some(StructType(schema.flatMap(_.field)))

    /** Every partition spec by id (v2 `partition-specs`; v1's single
      * `partition-spec` is spec 0). */
    lazy val specs: Map[Int, PartitionSpec] = {
      def spec(id: Int, fields: JsonNode) = PartitionSpec(id, nodes(fields).zipWithIndex.map { case (f, i) =>
        SpecField(f.get("name").asText, f.get("transform").asText,
          if (f.has("source-id")) f.get("source-id").asInt else -1,
          if (f.has("field-id")) f.get("field-id").asInt else 1000 + i)
      }, fields)
      val v2 = nodes(json.get("partition-specs"))
      if (v2.nonEmpty)
        v2.map(s => spec(if (s.has("spec-id")) s.get("spec-id").asInt else 0, s.get("fields")))
          .map(s => s.id -> s).toMap
      else Map(0 -> spec(0, json.get("partition-spec")))
    }
    val defaultSpecId: Int = if (json.has("default-spec-id")) json.get("default-spec-id").asInt else 0

    /** `schema.name-mapping.default` (spec "Column Projection"): field id
      * → the names id-less data files may carry for it. Only top-level
      * entries are consulted (nested renames need ids). A property that
      * does not parse refuses: read as "no mapping", id-less files would
      * silently lose every renamed column. */
    lazy val nameMapping: Map[Int, Seq[String]] = properties.get("schema.name-mapping.default") match {
      case None => Map.empty
      case Some(raw) =>
        val arr =
          try om.readTree(raw)
          catch {
            case e: com.fasterxml.jackson.core.JsonProcessingException =>
              throw new IllegalArgumentException(
                s"schema.name-mapping.default of $path is not valid JSON: ${e.getOriginalMessage}", e)
          }
        require(arr.isArray, s"schema.name-mapping.default of $path is not a JSON array")
        nodes(arr).filter(e => e.hasNonNull("field-id") && e.hasNonNull("names"))
          .map(e => e.get("field-id").asInt -> nodes(e.get("names")).map(_.asText)).toMap
    }

    /** Snapshot `id`, refusing an id the metadata does not carry. */
    def snapshot(id: Long): Snapshot = {
      require(snapshots.nonEmpty, s"no snapshots in $path")
      byId.getOrElse(id, throw new IllegalArgumentException(
        s"snapshot $id not found in $path — have ${byId.keys.toSeq.sorted.mkString(", ")}"))
    }

    /** `from` and its ancestors, newest first, stopping before `until`.
      * Lazy: a caller that stops early never meets a refusal further
      * down. Refuses a parent missing from `snapshots` (expired by
      * retention), an `until` the chain never reaches (not an
      * ancestor: branches diverge) and a cycle. */
    def ancestors(from: Long, until: Option[Long] = None): Iterator[Snapshot] = new Iterator[Snapshot] {
      private var cur: Option[Long] = Some(from)
      private var left = snapshots.size
      def hasNext: Boolean = cur match {
        case Some(id) => !until.contains(id)
        case None =>
          until.foreach(u => throw new IllegalArgumentException(
            s"snapshot $u is not an ancestor of $from in $path — a range must follow one " +
              "lineage (branches diverge; pick bounds on the same branch)"))
          false
      }
      def next(): Snapshot = {
        if (!hasNext) throw new NoSuchElementException("no more ancestors")
        require(left > 0, s"snapshot parent chain of $path does not terminate (cycle?)")
        left -= 1
        val s = byId.getOrElse(cur.get, throw new IllegalArgumentException(
          s"snapshot ${cur.get} (an ancestor of $from) is missing from $path — expired by " +
            "retention? start the range at a retained snapshot"))
        cur = s.parent
        s
      }
    }

    /** The snapshots after `from` (exclusive; None = the lineage root)
      * up to `to` (inclusive; None = the head), oldest first. */
    def range(from: Option[Long], to: Option[Long]): Seq[Snapshot] = {
      val last = to.getOrElse(head)
      snapshot(last)
      from.foreach(snapshot)
      ancestors(last, from).toSeq.reverse
    }

    /** The snapshot `TIMESTAMP AS OF millis` reads: the last
      * `snapshot-log` entry at or before `millis` (Iceberg's rule — the
      * log records main's history only, so branch commits never
      * answer); without a log, the newest ancestor of the current
      * snapshot committed by then. */
    def snapshotAt(millis: Long): Option[Long] =
      if (snapshotLog.nonEmpty) snapshotLog.filter(_._1 <= millis).lastOption.map(_._2)
      else current.flatMap(c => ancestors(c).find(_.timestampMs <= millis)).map(_.id)

    /** Snapshot `s`'s manifests: its manifest list decoded, or a v1
      * snapshot's inline manifests under the spec's defaults (sequence
      * 0, spec 0, adder unknown). */
    def manifests(s: Snapshot): Seq[ManifestListEntry] = (s.manifestList, s.inlineManifests) match {
      case (Some(list), _) =>
        IcebergImport.readAvro(_ => fs, IcebergImport.resolve(tableDir, list))._1
          .map(ManifestListEntry.decode)
      case (None, Some(inline)) => inline.map(p => ManifestListEntry(p, 0L, 0, 0, 0L, 0L, None, 0, 0, 0, 0L, 0L, 0L))
      case _ => throw new IllegalArgumentException(s"snapshot ${s.id} has no manifest list in $path")
    }

    /** Manifest `m`, decoded. */
    def entries(m: ManifestListEntry): Manifest = {
      val p = IcebergImport.resolve(tableDir, m.path)
      val (records, meta) = IcebergImport.readAvro(_ => fs, p)
      val partFields = records.headOption.toSeq.flatMap(r => partFieldsOf(r.getSchema))
      Manifest(p, meta, partFields, records.map(decodeEntry), records)
    }

    /** Entry `e`'s data sequence number: explicit, else inherited from
      * its manifest `m` — which the spec allows for ADDED entries only.
      * Every v1 entry is sequence 0. */
    def dataSequence(e: ManifestEntry, m: ManifestListEntry, where: Path): Long =
      e.sequence.getOrElse {
        if (formatVersion == 1) 0L
        else {
          require(e.status == 1,
            s"manifest entry with status=${e.status} and no sequence_number in $where — cannot inherit")
          m.sequence
        }
      }
  }

  /** One decoded manifest: its header metadata, partition struct and
    * entries; `records` are the entries as read, for a rewrite that
    * keeps a foreign manifest's schema field for field. */
  final case class Manifest(path: Path, meta: Map[String, String], partFields: Seq[PartField],
      entries: Seq[ManifestEntry], records: Seq[GenericRecord])

  private def fieldOf[T](r: GenericRecord, name: String): Option[T] =
    IcebergImport.fieldOpt(r, name).map(_.asInstanceOf[T])

  private def nonNull(s: Schema): Schema =
    if (s.getType != Schema.Type.UNION) s
    else s.getTypes.asScala.find(_.getType != Schema.Type.NULL).getOrElse(s)

  /** A manifest's partition struct, from its entry schema. */
  private def partFieldsOf(entry: Schema): Seq[PartField] = {
    val df = nonNull(entry.getField("data_file").schema())
    Option(df.getField("partition")).map(f => nonNull(f.schema()))
      .filter(_.getType == Schema.Type.RECORD).toSeq
      .flatMap(_.getFields.asScala).map { f =>
        val s = nonNull(f.schema())
        val date = s.getLogicalType != null && s.getLogicalType.getName == "date"
        PartField(f.name, if (date) "date" else s.getType.getName,
          Option(f.getObjectProp("field-id")).map(_.toString.toInt).getOrElse(-1))
      }
  }

  private def decodeEntry(r: GenericRecord): ManifestEntry = {
    val d = r.get("data_file").asInstanceOf[GenericRecord]
    def kv[V](field: String): Map[Int, V] = fieldOf[java.util.List[GenericRecord]](d, field)
      .fold(Map.empty[Int, V])(_.asScala.map(e => e.get("key").asInstanceOf[Int] -> e.get("value").asInstanceOf[V]).toMap)
    val counts = kv[Long]("value_counts")
    val nulls = kv[Long]("null_value_counts")
    def bytes(field: String) = kv[java.nio.ByteBuffer](field).map { case (k, bb) =>
      val b = new Array[Byte](bb.remaining()); bb.duplicate().get(b); k -> b
    }
    val (lower, upper) = (bytes("lower_bounds"), bytes("upper_bounds"))
    val stats = (counts.keySet ++ nulls.keySet ++ lower.keySet ++ upper.keySet).map(id =>
      id -> IcebergExport.ColFileStats(counts.get(id), nulls.get(id), lower.get(id), upper.get(id))).toMap
    val partition = fieldOf[GenericRecord](d, "partition").toSeq.flatMap { p =>
      p.getSchema.getFields.asScala.map(f => f.name -> (p.get(f.pos) match {
        case u: org.apache.avro.util.Utf8 => u.toString
        case v => v
      }))
    }
    val rows = fieldOf[Long](d, "record_count").getOrElse(-1L)
    val dv = for {
      ref <- fieldOf[AnyRef](d, "referenced_data_file")
      off <- fieldOf[Long](d, "content_offset")
      size <- fieldOf[Long](d, "content_size_in_bytes")
    } yield PuffinDeletionVectors.DvRef(ref.toString, off, size, rows)
    ManifestEntry(fieldOf[Int](r, "status").getOrElse(1), fieldOf[Long](r, "snapshot_id"),
      fieldOf[Long](r, "sequence_number"), fieldOf[Long](r, "file_sequence_number"),
      DataFile(fieldOf[Int](d, "content").getOrElse(0), d.get("file_path").toString,
        d.get("file_format").toString, rows, fieldOf[Long](d, "file_size_in_bytes").getOrElse(-1L),
        partition, stats,
        fieldOf[java.util.List[Integer]](d, "equality_ids").fold(Seq.empty[Int])(_.asScala.map(_.intValue).toSeq),
        dv, fieldOf[Long](d, "first_row_id")))
  }

  /** One Iceberg schema field as a Spark StructField, carrying the
    * Iceberg field id as `parquet.field.id` metadata — the key Spark's
    * parquet reader consults (`spark.sql.parquet.fieldId.read.enabled`)
    * to resolve columns BY ID instead of by name, which is Iceberg's
    * projection rule for id-carrying data files. */
  private def structFieldOf(f: JsonNode): StructField = {
    val meta =
      if (f.hasNonNull("id"))
        new MetadataBuilder().putLong("parquet.field.id", f.get("id").asLong).build()
      else Metadata.empty
    StructField(f.get("name").asText, icebergToSpark(f.get("type")),
      nullable = !(f.has("required") && f.get("required").asBoolean), meta)
  }

  /** An Iceberg type as a Spark type, per the public spec's type list;
    * `uuid` surfaces as string, `fixed[N]` as binary (what Spark's
    * parquet reader yields for those physical types anyway). */
  private def icebergToSpark(t: JsonNode): DataType =
    if (t.isTextual) t.asText match {
      case "boolean"     => BooleanType
      case "int"         => IntegerType
      case "long"        => LongType
      case "float"       => FloatType
      case "double"      => DoubleType
      case "date"        => DateType
      case "timestamp"   => TimestampNTZType
      case "timestamptz" => TimestampType
      case "string"      => StringType
      case "uuid"        => StringType
      case "binary"      => BinaryType
      case s if s.startsWith("decimal(") =>
        val Array(p, sc) = s.stripPrefix("decimal(").stripSuffix(")").split(',').map(_.trim.toInt)
        DecimalType(p, sc)
      case s if s.startsWith("fixed") => BinaryType
      case other => throw new UnmappedIcebergType(other)
    } else t.get("type").asText match {
      case "struct" => StructType(nodes(t.get("fields")).map(structFieldOf))
      case "list" =>
        ArrayType(icebergToSpark(t.get("element")),
          containsNull = !(t.has("element-required") && t.get("element-required").asBoolean))
      case "map" =>
        MapType(icebergToSpark(t.get("key")), icebergToSpark(t.get("value")),
          valueContainsNull = !(t.has("value-required") && t.get("value-required").asBoolean))
      case other => throw new UnmappedIcebergType(s"nested type $other")
    }

  // ------------------------------------------------------------------
  // the write half: commit
  // ------------------------------------------------------------------

  /** A metadata commit lost the version-file claim: another writer
    * committed that version first. Nothing of the loser is visible;
    * reloading the table and retrying is always safe. */
  final class CommitConflictException(val versionFile: Path)
      extends java.util.ConcurrentModificationException(
        s"commit conflict: $versionFile already exists — another writer committed that " +
          "version first; reload the table and retry")

  /** Commit `md` as the version after `mdPath`: claim
    * `v<hint+1>.metadata.json` exclusively, then move the hint. Returns
    * the new version file. */
  def commit(fs: FileSystem, mdPath: Path, md: JsonNode): Path = {
    val next = IcebergImport.writableVersionOf(mdPath) + 1
    val metaDir = fs.makeQualified(mdPath).getParent
    val out = new Path(metaDir, s"v$next.metadata.json")
    if (!AtomicFs.createExclusive(fs, out, om.writeValueAsString(md)))
      throw new CommitConflictException(out)
    AtomicFs.replaceSmall(fs, new Path(metaDir, "version-hint.text"), next.toString)
    out
  }

  // ------------------------------------------------------------------
  // manifests
  // ------------------------------------------------------------------

  /** One field of a manifest's partition struct: Avro name, value kind
    * (int/long/string/date) and partition field id. */
  final case class PartField(name: String, kind: String, fid: Int)

  /** One `data_file` struct. `content`: 0 data, 1 position deletes
    * (a deletion vector when `dv` is set), 2 equality deletes. `stats`
    * maps field id → footer stats (counts and bounds); absent columns
    * carry none. `firstRowId` is the v3 row-lineage field (id 142).
    * `recordCount`/`sizeBytes` read as -1 when a manifest omits them. */
  final case class DataFile(
      content: Int,
      path: String,
      format: String,
      recordCount: Long,
      sizeBytes: Long,
      partition: Seq[(String, AnyRef)] = Nil,
      stats: Map[Int, IcebergExport.ColFileStats] = Map.empty,
      equalityIds: Seq[Int] = Nil,
      dv: Option[PuffinDeletionVectors.DvRef] = None,
      firstRowId: Option[Long] = None)

  /** One `manifest_entry`. `status`: 0 EXISTING, 1 ADDED, 2 DELETED.
    * A None snapshot id or sequence is inherited from the manifest list
    * (the spec's rule for ADDED entries, [[TableMetadata.dataSequence]]). */
  final case class ManifestEntry(status: Int, snapshotId: Option[Long], sequence: Option[Long],
      fileSequence: Option[Long], file: DataFile)

  object ManifestEntry {
    def added(snapshotId: Long, file: DataFile, sequence: Option[Long] = None): ManifestEntry =
      ManifestEntry(1, Some(snapshotId), sequence, sequence, file)
  }

  /** The spec's manifest metadata. `content`: 0 data, 1 deletes
    * (manifest_file vocabulary); `specJson` is the spec's fields array,
    * `partFields` its Avro partition struct. */
  final case class ManifestHeader(formatVersion: Int, content: Int, schemaJson: String,
      schemaId: Int, specId: Int, specJson: String, partFields: Seq[PartField])

  /** The header for a manifest of table `tm`: its current schema and
    * the partition spec `specId` — "[]" for a spec the load did not
    * carry, which is the unpartitioned spec a delete commit registers. */
  def headerOf(tm: TableMetadata, content: Int, specId: Int,
      partFields: Seq[PartField]): ManifestHeader =
    ManifestHeader(tm.formatVersion, content, om.writeValueAsString(tm.schemaNode), tm.schemaId,
      specId, tm.specs.get(specId).flatMap(s => Option(s.json)).fold("[]")(om.writeValueAsString),
      partFields)

  /** Write `entries` as one manifest at `path` (exclusive create);
    * returns its list entry at `sequence`, added by `snapshotId`. */
  def writeManifest(fs: FileSystem, path: Path, header: ManifestHeader,
      entries: Seq[ManifestEntry], sequence: Long, snapshotId: Long): ManifestListEntry = {
    val schema = new Schema.Parser().parse(entryAvro(header.partFields, header.formatVersion))
    val meta = Seq(
      "schema" -> header.schemaJson,
      "schema-id" -> header.schemaId.toString,
      "partition-spec" -> header.specJson,
      "partition-spec-id" -> header.specId.toString,
      "format-version" -> header.formatVersion.toString,
      "content" -> (if (header.content == 0) "data" else "deletes"))
    val length = writeContainer(fs, path, schema, meta, entries.iterator.map(encodeEntry(schema, _)))
    def count(status: Int) = entries.count(_.status == status)
    def rows(status: Int) = entries.filter(_.status == status).map(_.file.recordCount).sum
    val liveSeqs = entries.filter(_.status != 2).map(_.sequence.getOrElse(sequence))
    ManifestListEntry(fs.makeQualified(path).toString, length, header.specId, header.content,
      sequence, if (liveSeqs.isEmpty) sequence else liveSeqs.min, Some(snapshotId),
      count(1), count(0), count(2), rows(1), rows(0), rows(2))
  }

  private def encodeEntry(schema: Schema, e: ManifestEntry): GenericRecord = {
    val dfSchema = schema.getField("data_file").schema()
    val f = e.file
    val d = new GenericData.Record(dfSchema)
    d.put("content", f.content)
    d.put("file_path", f.path)
    d.put("file_format", f.format)
    val part = new GenericData.Record(dfSchema.getField("partition").schema())
    f.partition.foreach { case (n, v) => part.put(n, v) }
    d.put("partition", part)
    d.put("record_count", f.recordCount)
    d.put("file_size_in_bytes", f.sizeBytes)
    // stats as Iceberg k/v "logical map" arrays, keyed by field id
    def kv(field: String, vals: Seq[(Int, AnyRef)]): Unit = if (vals.nonEmpty) {
      val arrSchema = dfSchema.getField(field).schema().getTypes.get(1)
      val a = new GenericData.Array[GenericRecord](vals.size, arrSchema)
      vals.foreach { case (k, v) =>
        val r = new GenericData.Record(arrSchema.getElementType)
        r.put("key", k); r.put("value", v); a.add(r)
      }
      d.put(field, a)
    }
    val stats = f.stats.toSeq.sortBy(_._1)
    kv("value_counts",
      stats.flatMap { case (id, c) => c.valueCount.map(n => id -> java.lang.Long.valueOf(n)) })
    kv("null_value_counts",
      stats.flatMap { case (id, c) => c.nullCount.map(n => id -> java.lang.Long.valueOf(n)) })
    kv("lower_bounds",
      stats.flatMap { case (id, c) => c.lower.map(b => id -> java.nio.ByteBuffer.wrap(b)) })
    kv("upper_bounds",
      stats.flatMap { case (id, c) => c.upper.map(b => id -> java.nio.ByteBuffer.wrap(b)) })
    if (f.equalityIds.nonEmpty) {
      val arrSchema = dfSchema.getField("equality_ids").schema().getTypes.get(1)
      val a = new GenericData.Array[Integer](f.equalityIds.size, arrSchema)
      f.equalityIds.foreach(i => a.add(Integer.valueOf(i)))
      d.put("equality_ids", a)
    }
    f.dv.foreach { dv =>
      d.put("referenced_data_file", dv.referencedDataFile)
      d.put("content_offset", dv.offset)
      d.put("content_size_in_bytes", dv.length)
    }
    f.firstRowId.foreach(id => d.put("first_row_id", id))
    val r = new GenericData.Record(schema)
    r.put("status", e.status)
    r.put("snapshot_id", e.snapshotId.map(java.lang.Long.valueOf).orNull)
    r.put("sequence_number", e.sequence.map(java.lang.Long.valueOf).orNull)
    r.put("file_sequence_number", e.fileSequence.map(java.lang.Long.valueOf).orNull)
    r.put("data_file", d)
    r
  }

  /** The one Avro container writer of the bridge's metadata: `records`
    * under `schema` with key-value `meta`, created exclusively. Returns
    * the written length. Also the rewrite path for manifests kept in
    * their own (foreign) schema. */
  def writeContainer(fs: FileSystem, path: Path, schema: Schema,
      meta: Iterable[(String, String)], records: Iterator[GenericRecord]): Long = {
    val w = new org.apache.avro.file.DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    meta.foreach { case (k, v) => w.setMeta(k, v) }
    w.create(schema, fs.create(path, false))
    try records.foreach(w.append)
    finally w.close()
    fs.getFileStatus(path).getLen
  }

  // ------------------------------------------------------------------
  // manifest lists
  // ------------------------------------------------------------------

  /** One `manifest_file` record. `firstRowId` is the v3 row-lineage
    * assignment (field 520), written only into v3 lists.
    * `addedSnapshotId` is None when a list does not record the adder. */
  final case class ManifestListEntry(path: String, length: Long, specId: Int, content: Int,
      sequence: Long, minSequence: Long, addedSnapshotId: Option[Long],
      addedFiles: Int, existingFiles: Int, deletedFiles: Int,
      addedRows: Long, existingRows: Long, deletedRows: Long,
      firstRowId: Option[Long] = None)

  object ManifestListEntry {
    /** A carried entry of any writer's list, field by field; fields a
      * foreign (or v1) list lacks take the spec's defaults. */
    def decode(src: GenericRecord): ManifestListEntry = {
      def opt[T](n: String, dflt: T): T = fieldOf[T](src, n).getOrElse(dflt)
      val seq = opt[Long]("sequence_number", 0L)
      ManifestListEntry(src.get("manifest_path").toString, opt[Long]("manifest_length", 0L),
        opt[Int]("partition_spec_id", 0), opt[Int]("content", 0), seq,
        opt[Long]("min_sequence_number", seq), fieldOf[Long](src, "added_snapshot_id"),
        opt[Int]("added_files_count", 0), opt[Int]("existing_files_count", 0),
        opt[Int]("deleted_files_count", 0), opt[Long]("added_rows_count", 0L),
        opt[Long]("existing_rows_count", 0L), opt[Long]("deleted_rows_count", 0L),
        fieldOf[Long](src, "first_row_id"))
    }
  }

  /** Write snapshot `snapshotId`'s manifest list at `path` (exclusive
    * create); returns its qualified path. */
  def writeManifestList(fs: FileSystem, path: Path, formatVersion: Int, snapshotId: Long,
      parent: Option[Long], sequence: Long, entries: Seq[ManifestListEntry]): String = {
    val v3 = formatVersion >= 3
    val schema = new Schema.Parser().parse(if (v3) ManifestFileV3Avro else ManifestFileAvro)
    val meta = Seq("snapshot-id" -> snapshotId.toString) ++
      parent.map(p => "parent-snapshot-id" -> p.toString) ++
      Seq("sequence-number" -> sequence.toString, "format-version" -> formatVersion.toString)
    writeContainer(fs, path, schema, meta, entries.iterator.map { m =>
      val r = new GenericData.Record(schema)
      r.put("manifest_path", m.path)
      r.put("manifest_length", m.length)
      r.put("partition_spec_id", m.specId)
      r.put("content", m.content)
      r.put("sequence_number", m.sequence)
      r.put("min_sequence_number", m.minSequence)
      // a required field: an entry carried from a list that omits it
      // (never a list this codec wrote) is written as snapshot 0
      r.put("added_snapshot_id", m.addedSnapshotId.getOrElse(0L))
      r.put("added_files_count", m.addedFiles)
      r.put("existing_files_count", m.existingFiles)
      r.put("deleted_files_count", m.deletedFiles)
      r.put("added_rows_count", m.addedRows)
      r.put("existing_rows_count", m.existingRows)
      r.put("deleted_rows_count", m.deletedRows)
      if (v3) r.put("first_row_id", m.firstRowId.map(java.lang.Long.valueOf).orNull)
      r
    })
    fs.makeQualified(path).toString
  }

  // ------------------------------------------------------------------
  // Avro schemas (spec field ids)
  // ------------------------------------------------------------------

  /** Iceberg v2 `manifest_file` Avro schema (spec "Manifest Lists":
    * field-ids 500-517; optional v1-only fields omitted). */
  private val ManifestFileAvro: String =
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"content","type":"int","field-id":517},
      |{"name":"sequence_number","type":"long","field-id":515},
      |{"name":"min_sequence_number","type":"long","field-id":516},
      |{"name":"added_snapshot_id","type":"long","field-id":503},
      |{"name":"added_files_count","type":"int","field-id":504},
      |{"name":"existing_files_count","type":"int","field-id":505},
      |{"name":"deleted_files_count","type":"int","field-id":506},
      |{"name":"added_rows_count","type":"long","field-id":512},
      |{"name":"existing_rows_count","type":"long","field-id":513},
      |{"name":"deleted_rows_count","type":"long","field-id":514}
      |]}""".stripMargin

  /** [[ManifestFileAvro]] + the v3 row-lineage assignment field
    * (`first_row_id`, field-id 520). */
  private val ManifestFileV3Avro: String =
    ManifestFileAvro.replace(
      """{"name":"deleted_rows_count","type":"long","field-id":514}""",
      """{"name":"deleted_rows_count","type":"long","field-id":514},
        |{"name":"first_row_id","type":["null","long"],"default":null,"field-id":520}""".stripMargin)

  /** Iceberg `manifest_entry` Avro schema for a partition struct (spec
    * "Manifests": field-ids 0-4, data_file struct 100-145, partition
    * struct fields 1000+); v3 adds `first_row_id` (142) and the DV
    * triple 143-145. */
  private def entryAvro(partFields: Seq[PartField], formatVersion: Int): String = {
    val pf = partFields.map { f =>
      val t = f.kind match {
        case "int" => "\"int\""
        case "long" => "\"long\""
        case "string" => "\"string\""
        case "date" => """{"type":"int","logicalType":"date"}"""
      }
      s"""{"name":"${f.name}","type":["null",$t],"default":null,"field-id":${f.fid}}"""
    }.mkString(",")
    val dvTriple =
      if (formatVersion < 3) ""
      else
        """,
          |{"name":"first_row_id","type":["null","long"],"default":null,"field-id":142},
          |{"name":"referenced_data_file","type":["null","string"],"default":null,"field-id":143},
          |{"name":"content_offset","type":["null","long"],"default":null,"field-id":144},
          |{"name":"content_size_in_bytes","type":["null","long"],"default":null,"field-id":145}""".stripMargin
    ManifestEntryAvro
      .replace(""""fields":[]},"field-id":102}""", s""""fields":[$pf]},"field-id":102}""")
      .replace(""""default":null,"field-id":135}""", s""""default":null,"field-id":135}$dvTriple""")
  }

  /** The unpartitioned v2 `manifest_entry` schema (empty partition
    * struct). */
  val ManifestEntryAvro: String =
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int","field-id":0},
      |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
      |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
      |{"name":"content","type":"int","field-id":134},
      |{"name":"file_path","type":"string","field-id":100},
      |{"name":"file_format","type":"string","field-id":101},
      |{"name":"partition","type":{"type":"record","name":"r102","fields":[]},"field-id":102},
      |{"name":"record_count","type":"long","field-id":103},
      |{"name":"file_size_in_bytes","type":"long","field-id":104},
      |{"name":"value_counts","type":["null",{"type":"array","items":{"type":"record","name":"k119_v120","fields":[
      |{"name":"key","type":"int","field-id":119},{"name":"value","type":"long","field-id":120}]},"logicalType":"map"}],"default":null,"field-id":109},
      |{"name":"null_value_counts","type":["null",{"type":"array","items":{"type":"record","name":"k121_v122","fields":[
      |{"name":"key","type":"int","field-id":121},{"name":"value","type":"long","field-id":122}]},"logicalType":"map"}],"default":null,"field-id":110},
      |{"name":"lower_bounds","type":["null",{"type":"array","items":{"type":"record","name":"k126_v127","fields":[
      |{"name":"key","type":"int","field-id":126},{"name":"value","type":"bytes","field-id":127}]},"logicalType":"map"}],"default":null,"field-id":125},
      |{"name":"upper_bounds","type":["null",{"type":"array","items":{"type":"record","name":"k129_v130","fields":[
      |{"name":"key","type":"int","field-id":129},{"name":"value","type":"bytes","field-id":130}]},"logicalType":"map"}],"default":null,"field-id":128},
      |{"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null,"field-id":135}
      |]},"field-id":2}
      |]}""".stripMargin
}
