package graft.io

/** Test-scope fixture: splice a handcrafted v2 DELETE snapshot onto an
  * [[IcebergExport]]ed table, exactly per the public spec — a delete
  * manifest (content=1/2 entries with explicit sequence numbers), a new
  * manifest list carrying the previous manifests plus the delete one,
  * and a new metadata JSON whose current snapshot points at it. Shared
  * by IcebergDeletesSpec and the verify drivers.
  *
  * The delete manifest is written under `specId` (default 0). When
  * `partFields` is non-empty — (name, avroKind int|long|string|date) —
  * the manifest's entry schema carries that partition struct and each
  * [[Del]]'s `partVals` populate it, which is how a PARTITION-SCOPED
  * equality delete is spliced. */
object IcebergTestSplice {

  /** Resolve v<N>.metadata.json accepting both spellings found in the
    * wild (unpadded — HadoopTableOperations' — preferred). */
  def mdFile(metaDir: java.nio.file.Path, v: Int): java.nio.file.Path = {
    val plain = metaDir.resolve(s"v$v.metadata.json")
    if (java.nio.file.Files.exists(plain)) plain else metaDir.resolve(f"v$v%05d.metadata.json")
  }

  final case class Del(path: String, content: Int, seq: Long,
      eqIds: Seq[Int] = Nil, format: String = "PARQUET",
      partVals: Seq[(String, AnyRef)] = Nil)

  def readAvroRecords(path: String): Seq[org.apache.avro.generic.GenericRecord] = {
    val in = new org.apache.avro.file.DataFileStream[org.apache.avro.generic.GenericRecord](
      java.nio.file.Files.newInputStream(java.nio.file.Paths.get(
        path.stripPrefix("file:"))),
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    try {
      val b = scala.collection.mutable.ArrayBuffer.empty[org.apache.avro.generic.GenericRecord]
      while (in.hasNext) b += in.next()
      b.toSeq
    } finally in.close()
  }

  /** Splice a new current snapshot onto `dest` whose manifest list is
    * the previous snapshot's manifests plus ONE delete manifest holding
    * an entry per `dels` element — written and committed through
    * [[IcebergMetadata]], like every writer of the bridge. */
  def addDeleteSnapshot(dest: String, dels: Seq[Del], specId: Int = 0,
      partFields: Seq[(String, String)] = Nil): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(dest).getFileSystem(new org.apache.hadoop.conf.Configuration())
    val tm = IcebergMetadata.load(fs, dest)
    val (mdPath, md) = (tm.path, tm.json)
    val metaDir = mdPath.getParent
    val fv = md.get("format-version").asInt
    val cur = md.get("current-snapshot-id").asLong
    val snaps = md.get("snapshots").asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
    val curSnap = (0 until snaps.size).map(snaps.get).find(_.get("snapshot-id").asLong == cur).get
    val newSnapId = cur + 1
    val maxSeq = dels.map(_.seq).max

    // the delete manifest, under the requested partition struct
    val header = IcebergMetadata.headerOf(tm, content = 1, specId,
      partFields.zipWithIndex.map { case ((name, kind), i) =>
        IcebergMetadata.PartField(name, kind, 1000 + i) })
    val delManifest = IcebergMetadata.writeManifest(fs, new Path(metaDir, s"m-del-$newSnapId.avro"),
      header, dels.map { d =>
        IcebergMetadata.ManifestEntry.added(newSnapId, IcebergMetadata.DataFile(d.content, d.path,
          d.format, recordCount = 1L, sizeBytes = 10L, partition = d.partVals,
          equalityIds = d.eqIds), Some(d.seq))
      }, maxSeq, newSnapId)

    // the new manifest list: previous data manifests + the delete one
    val prevList = readAvroRecords(curSnap.get("manifest-list").asText)
      .map(IcebergMetadata.ManifestListEntry.decode)
    val newList = IcebergMetadata.writeManifestList(fs,
      new Path(metaDir, s"snap-$newSnapId-1-del.avro"), fv, newSnapId, Some(cur), maxSeq,
      prevList :+ delManifest)

    // the new metadata version
    val newSnap = snaps.addObject()
    newSnap.put("snapshot-id", newSnapId)
    newSnap.put("parent-snapshot-id", cur)
    newSnap.put("sequence-number", maxSeq)
    newSnap.put("timestamp-ms", 1L)
    newSnap.putObject("summary").put("operation", "delete")
    newSnap.put("manifest-list", newList)
    newSnap.put("schema-id", 0)
    md.put("current-snapshot-id", newSnapId)
    md.put("last-sequence-number", maxSeq)
    IcebergMetadata.commit(fs, mdPath, md)
  }
}
