package graft.io

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{FileSystem, Path}

/** The bridge's one ICEBERG METADATA CODEC — every manifest, manifest
  * list and metadata version graft writes is encoded here, from the
  * public table spec (https://iceberg.apache.org/spec/):
  *
  *  - [[writeManifest]]: typed [[ManifestEntry]]/[[DataFile]] values
  *    into one Avro container under ONE header rule — `schema`,
  *    `schema-id`, `partition-spec`, `partition-spec-id`,
  *    `format-version` and `content`, the spec's manifest metadata. Per
  *    entry differences (explicit vs inherited sequence numbers,
  *    `equality_ids`, the v3 DV triple, stats maps, `file_format`) are
  *    data on the entry, never writer flags;
  *  - [[writeManifestList]]: typed [[ManifestListEntry]] values —
  *    carried ([[ManifestListEntry.decode]]), replaced (a decoded entry
  *    `copy`) and new (what [[writeManifest]] returns) — under the
  *    list's `snapshot-id`/`parent-snapshot-id`/`sequence-number`/
  *    `format-version` keys;
  *  - [[commit]]: claims `v<hint+1>.metadata.json` through the commit
  *    CAS ([[AtomicFs.createExclusive]] — O_EXCL on the local FS, so
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
  // metadata JSON: head, current schema, name mapping, commit
  // ------------------------------------------------------------------

  /** The latest metadata file of the table at `tableDir` and its parsed
    * JSON, mutable for an edit-and-[[commit]]. */
  def loadHead(fs: FileSystem, tableDir: String): (Path, ObjectNode) = {
    val mdPath = IcebergImport.latestMetadata(fs, new Path(tableDir, "metadata"))
    val in = fs.open(mdPath)
    try (mdPath, om.readTree(in).asInstanceOf[ObjectNode]) finally in.close()
  }

  /** The current schema node: the `schemas` entry whose `schema-id` is
    * `current-schema-id` (the first schema when the id is absent), else
    * the v1 single `schema` — null when the metadata has neither. A
    * `current-schema-id` no schema carries is a corrupt table: reading
    * another schema would project the wrong columns, so it refuses. */
  def currentSchema(md: JsonNode, mdPath: Path): JsonNode = {
    val schemas = md.get("schemas")
    if (schemas == null || schemas.size == 0) md.get("schema")
    else if (!md.has("current-schema-id")) schemas.get(0)
    else {
      val want = md.get("current-schema-id").asInt
      (0 until schemas.size).map(schemas.get)
        .find(s => s.has("schema-id") && s.get("schema-id").asInt == want)
        .getOrElse(throw new IllegalArgumentException(
          s"current-schema-id $want of $mdPath names no schema in its schemas list"))
    }
  }

  /** `schema.name-mapping.default` (spec "Column Projection"): field id
    * → the names id-less data files may carry for it. Only top-level
    * entries are consulted (nested renames need ids). A property that
    * does not parse refuses: read as "no mapping", id-less files would
    * silently lose every renamed column. */
  def nameMapping(md: JsonNode, mdPath: Path): Map[Int, Seq[String]] = {
    val props = md.get("properties")
    if (props == null || !props.hasNonNull("schema.name-mapping.default")) Map.empty
    else {
      val raw = props.get("schema.name-mapping.default").asText
      val arr =
        try om.readTree(raw)
        catch {
          case e: com.fasterxml.jackson.core.JsonProcessingException =>
            throw new IllegalArgumentException(
              s"schema.name-mapping.default of $mdPath is not valid JSON: ${e.getOriginalMessage}", e)
        }
      require(arr.isArray, s"schema.name-mapping.default of $mdPath is not a JSON array")
      (0 until arr.size).map(arr.get).flatMap { e =>
        if (!e.hasNonNull("field-id") || !e.hasNonNull("names")) None
        else {
          val names = e.get("names")
          Some(e.get("field-id").asInt -> (0 until names.size).map(names.get(_).asText))
        }
      }.toMap
    }
  }

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
    * maps field id → footer stats; absent columns carry no bounds. */
  final case class DataFile(
      content: Int,
      path: String,
      format: String,
      recordCount: Long,
      sizeBytes: Long,
      partition: Seq[(String, AnyRef)] = Nil,
      stats: Map[Int, IcebergExport.ColFileStats] = Map.empty,
      equalityIds: Seq[Int] = Nil,
      dv: Option[PuffinDeletionVectors.DvRef] = None)

  /** One `manifest_entry`. `status`: 0 EXISTING, 1 ADDED, 2 DELETED.
    * A None sequence is inherited from the manifest list (the spec's
    * rule for ADDED entries). */
  final case class ManifestEntry(status: Int, snapshotId: Long, sequence: Option[Long],
      fileSequence: Option[Long], file: DataFile)

  object ManifestEntry {
    def added(snapshotId: Long, file: DataFile, sequence: Option[Long] = None): ManifestEntry =
      ManifestEntry(1, snapshotId, sequence, sequence, file)
  }

  /** The spec's manifest metadata. `content`: 0 data, 1 deletes
    * (manifest_file vocabulary); `specJson` is the spec's fields array,
    * `partFields` its Avro partition struct. */
  final case class ManifestHeader(formatVersion: Int, content: Int, schemaJson: String,
      schemaId: Int, specId: Int, specJson: String, partFields: Seq[PartField])

  /** The header for a manifest of the table whose metadata is `md`:
    * its current schema and the partition spec `specId`. */
  def headerOf(md: JsonNode, mdPath: Path, content: Int, specId: Int,
      partFields: Seq[PartField]): ManifestHeader = {
    val schema = currentSchema(md, mdPath)
    val specs = md.get("partition-specs")
    val specFields =
      if (specs != null && specs.size > 0)
        (0 until specs.size).map(specs.get)
          .find(s => (if (s.has("spec-id")) s.get("spec-id").asInt else 0) == specId)
          .flatMap(s => Option(s.get("fields")))
      else Option(md.get("partition-spec"))
    ManifestHeader(
      formatVersion = if (md.has("format-version")) md.get("format-version").asInt else 1,
      content = content,
      schemaJson = om.writeValueAsString(schema),
      schemaId = if (schema != null && schema.has("schema-id")) schema.get("schema-id").asInt else 0,
      specId = specId,
      specJson = specFields.map(om.writeValueAsString).getOrElse("[]"),
      partFields = partFields)
  }

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
      sequence, if (liveSeqs.isEmpty) sequence else liveSeqs.min, snapshotId,
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
    kv("value_counts", stats.map { case (id, c) => id -> java.lang.Long.valueOf(c.valueCount) })
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
    val r = new GenericData.Record(schema)
    r.put("status", e.status)
    r.put("snapshot_id", java.lang.Long.valueOf(e.snapshotId))
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
    * assignment (field 520), written only into v3 lists. */
  final case class ManifestListEntry(path: String, length: Long, specId: Int, content: Int,
      sequence: Long, minSequence: Long, addedSnapshotId: Long,
      addedFiles: Int, existingFiles: Int, deletedFiles: Int,
      addedRows: Long, existingRows: Long, deletedRows: Long,
      firstRowId: Option[Long] = None)

  object ManifestListEntry {
    /** A carried entry of any writer's list, field by field; fields a
      * foreign (or v1) list lacks take the spec's defaults. */
    def decode(src: GenericRecord): ManifestListEntry = {
      def opt[T](n: String, dflt: T): T =
        IcebergImport.fieldOpt(src, n).map(_.asInstanceOf[T]).getOrElse(dflt)
      val seq = opt[Long]("sequence_number", 0L)
      ManifestListEntry(src.get("manifest_path").toString, opt[Long]("manifest_length", 0L),
        opt[Int]("partition_spec_id", 0), opt[Int]("content", 0), seq,
        opt[Long]("min_sequence_number", seq), opt[Long]("added_snapshot_id", 0L),
        opt[Int]("added_files_count", 0), opt[Int]("existing_files_count", 0),
        opt[Int]("deleted_files_count", 0), opt[Long]("added_rows_count", 0L),
        opt[Long]("existing_rows_count", 0L), opt[Long]("deleted_rows_count", 0L),
        IcebergImport.fieldOpt(src, "first_row_id").map(_.asInstanceOf[Long]))
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
      r.put("added_snapshot_id", m.addedSnapshotId)
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
    * struct fields 1000+); v3 adds the DV triple 143-145. */
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
