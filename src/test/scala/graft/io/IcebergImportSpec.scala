package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[IcebergImport]] — the read half of the interop bridge. Round-trip
  * proof: a table exported by [[IcebergExport]] reads back EXACTLY
  * through the Iceberg layout (current snapshot and every historical
  * one), against graft's own reads as the truth. Refusal paths pin
  * that non-parquet data and broken delete manifests can never
  * silently produce wrong rows (delete APPLICATION semantics live in
  * [[IcebergDeletesSpec]]). A hand-written v1-flavored metadata file (inline
  * manifests array, unpadded version name) checks the reader is not
  * coupled to this exporter's spelling choices. */
class IcebergImportSpec extends SparkSpec {
  import spark.implicits._

  private def readAvro(path: String): (Seq[Map[String, Any]], Map[String, String]) = {
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    val p = new org.apache.hadoop.fs.Path(path)
    val in = new org.apache.avro.file.DataFileStream[GenericRecord](
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p),
      new GenericDatumReader[GenericRecord]())
    try {
      import scala.jdk.CollectionConverters._
      val meta = in.getMetaKeys.asScala.toSeq.filterNot(_.startsWith("avro."))
        .map(k => k -> in.getMetaString(k)).toMap
      val rows = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
      while (in.hasNext) {
        val r = in.next()
        rows += r.getSchema.getFields.asScala.map(f => f.name() -> r.get(f.name())).toMap
      }
      (rows.toSeq, meta)
    } finally in.close()
  }

  private def exported(): (SnapshotTables, String) = {
    val root = java.nio.file.Files.createTempDirectory("graft-ice-imp").toString
    val t = new SnapshotTables(spark, root)
    t.overwriteTable((1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v"), "tab")
    t.append((101 to 150).map(i => (i.toLong, s"v$i")).toDF("id", "v"), "tab")
    t.append((151 to 180).map(i => (i.toLong, s"v$i")).toDF("id", "v"), "tab")
    val dest = java.nio.file.Files.createTempDirectory("graft-ice-imp-out").toString
    IcebergExport.export(t, "tab", dest)
    (t, dest)
  }

  /** Rewrite `dest`'s head metadata file in place through `edit`. */
  private def editHead(dest: String)(
      edit: com.fasterxml.jackson.databind.node.ObjectNode => Unit): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val metaDir = java.nio.file.Paths.get(dest, "metadata")
    val hint = java.nio.file.Files.readString(metaDir.resolve("version-hint.text")).trim.toInt
    val mdFile = IcebergTestSplice.mdFile(metaDir, hint)
    val md = om.readTree(java.nio.file.Files.readString(mdFile))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    edit(md)
    java.nio.file.Files.writeString(mdFile, om.writeValueAsString(md))
  }

  test("round-trip: export then import reproduces the table at head and at every snapshot") {
    val (t, dest) = exported()
    val back = IcebergImport.read(spark, dest)
    assert(back.count() == 180)
    assert(back.as[(Long, String)].collect().toSet ==
      t.read("tab").as[(Long, String)].collect().toSet)
    // time travel through the Iceberg layout matches graft's own
    val snaps = IcebergImport.snapshots(spark, dest)
    assert(snaps.toSet == t.history("tab").map(_.toLong).toSet)
    snaps.foreach { s =>
      assert(IcebergImport.read(spark, dest, Some(s)).count() ==
        t.readVersion("tab", s.toInt).count(), s"snapshot $s diverged")
    }
    // the audited file set is exactly what the scan reads
    val files = IcebergImport.dataFiles(spark, dest)
    assert(files.nonEmpty && files.forall(_.endsWith(".parquet")))
    assert(spark.read.parquet(files: _*).count() == 180)
  }

  test("the pruned file surface: a snapshot's dataFiles exclude later appends") {
    val (t, dest) = exported()
    val v1Files = IcebergImport.dataFiles(spark, dest, Some(1L))
    val headFiles = IcebergImport.dataFiles(spark, dest)
    assert(v1Files.toSet.subsetOf(headFiles.toSet))
    assert(v1Files.size < headFiles.size)
    assert(spark.read.parquet(v1Files: _*).count() == 100)
  }

  test("a v1-flavored layout (inline manifests, unpadded names) still reads") {
    val (_, dest) = exported()
    // rewrite: take the current metadata, strip manifest-list indirection
    // by pointing an inline "manifests" array at the manifest paths
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val metaDir = java.nio.file.Paths.get(dest, "metadata")
    val hint = java.nio.file.Files.readString(metaDir.resolve("version-hint.text")).trim
    val mdFile = IcebergTestSplice.mdFile(metaDir, hint.toInt)
    val md = om.readTree(java.nio.file.Files.readString(mdFile)).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val snaps = md.get("snapshots")
    val cur = md.get("current-snapshot-id").asLong
    val curSnap = (0 until snaps.size).map(snaps.get)
      .find(_.get("snapshot-id").asLong == cur).get.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    // read the manifest list to recover the manifest paths
    val listPath = curSnap.get("manifest-list").asText
    val in = new org.apache.avro.file.DataFileStream[org.apache.avro.generic.GenericRecord](
      new org.apache.hadoop.fs.Path(listPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
        .open(new org.apache.hadoop.fs.Path(listPath)),
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    val manifests = try {
      val b = scala.collection.mutable.ArrayBuffer.empty[String]
      while (in.hasNext) b += in.next().get("manifest_path").toString
      b.toSeq
    } finally in.close()
    curSnap.remove("manifest-list")
    val arr = curSnap.putArray("manifests")
    manifests.foreach(arr.add)
    md.put("format-version", 1)
    // unpadded v<N>.metadata.json, no version hint
    val v1Dir = java.nio.file.Files.createTempDirectory("graft-ice-v1").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(v1Dir, "metadata"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(v1Dir, "metadata", s"v${hint.toInt}.metadata.json"), om.writeValueAsString(md))
    assert(IcebergImport.read(spark, v1Dir).count() == 180)
  }

  test("SQL face: graft_iceberg_scan reads the layout, with and without a snapshot id") {
    val (t, dest) = exported()
    val head = spark.sql(s"SELECT count(*) AS n, sum(id) AS s FROM graft_iceberg_scan('$dest')")
      .collect().head
    assert(head.getLong(0) == 180 && head.getLong(1) == (1L to 180).sum)
    val v1 = spark.sql(s"SELECT count(*) AS n FROM graft_iceberg_scan('$dest', 1)").collect().head
    assert(v1.getLong(0) == 100)
    // pushdown works through the stock parquet scan underneath
    val filtered = spark.sql(
      s"SELECT id FROM graft_iceberg_scan('$dest') WHERE id <= 10 ORDER BY id")
    assert(filtered.collect().map(_.getLong(0)).toSeq == (1L to 10L))
    assert(filtered.queryExecution.executedPlan.toString.contains("PushedFilters: [IsNotNull(id), LessThanOrEqual(id,10)]")
      || filtered.queryExecution.executedPlan.toString.contains("LessThanOrEqual(id,10)"))
    assert(t.read("tab").count() == 180)
  }

  test("identity-partitioned layout: real partition spec, typed struct values, full round-trip") {
    val root = java.nio.file.Files.createTempDirectory("graft-ice-part").toString
    val t = new SnapshotTables(spark, root)
    val df = (1 to 60).map(i =>
      (i.toLong, s"v$i", java.sql.Date.valueOf(f"2026-01-0${i % 3 + 1}"))).toDF("id", "v", "d")
    t.overwriteTable(df, "tab", partitionCols = Seq("d"))
    t.append((61 to 90).map(i =>
      (i.toLong, s"v$i", java.sql.Date.valueOf("2026-01-04"))).toDF("id", "v", "d"), "tab")
    val dest = java.nio.file.Files.createTempDirectory("graft-ice-part-out").toString
    val mdPath = IcebergExport.export(t, "tab", dest)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val md = om.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(new java.net.URI(mdPath).getPath)))
    // the spec declares one identity field on `d` with spec'd ids
    val spec0 = md.get("partition-specs").get(0)
    assert(spec0.get("fields").size == 1)
    val pf = spec0.get("fields").get(0)
    assert(pf.get("name").asText == "d" && pf.get("transform").asText == "identity")
    assert(pf.get("source-id").asInt == 3 && pf.get("field-id").asInt == 1000)
    assert(md.get("last-partition-id").asInt == 1000)
    // a manifest entry's partition struct carries the typed date value
    val snaps = md.get("snapshots")
    val cur = md.get("current-snapshot-id").asLong
    val curSnap = (0 until snaps.size).map(snaps.get).find(_.get("snapshot-id").asLong == cur).get
    val (listRows, _) = readAvro(curSnap.get("manifest-list").asText)
    val someEntry = readAvro(listRows.head("manifest_path").toString)._1.head
    val part = someEntry("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
      .get("partition").asInstanceOf[org.apache.avro.generic.GenericRecord]
    val days = part.get("d").asInstanceOf[Int]
    val date = java.time.LocalDate.ofEpochDay(days.toLong)
    assert(date.getYear == 2026 && date.getMonthValue == 1)
    // import round-trips content INCLUDING the partition column the
    // data files themselves do not carry
    val back = IcebergImport.read(spark, dest)
    assert(back.columns.toSet == Set("id", "v", "d"))
    assert(back.as[(Long, String, java.sql.Date)].collect().toSet ==
      t.read("tab").as[(Long, String, java.sql.Date)].collect().toSet)
    // and per-snapshot time travel holds
    assert(IcebergImport.read(spark, dest, Some(1L)).count() == 60)
  }

  test("hidden-transform layout: day + truncate become REAL spec fields, buckets omitted, MOR rides along") {
    val root = java.nio.file.Files.createTempDirectory("graft-ice-hid").toString
    val t = new SnapshotTables(spark, root)
    val df = (1 to 60).map(i => (i.toLong, s"name$i-${i % 5}",
      java.sql.Timestamp.valueOf(f"2026-02-${i % 3 + 1}%02d 10:00:00"))).toDF("id", "v", "ts")
    t.overwriteTableTransformed(df, "tab", Seq(
      SnapshotTables.PartitionTransform.days("ts"),
      SnapshotTables.PartitionTransform.truncate(4, "v"),
      SnapshotTables.PartitionTransform.bucket(8, "id")))
    // MOR over the hidden layout: upsert + key delete
    t.upsertMor("tab", Seq((5L, "upd5", java.sql.Timestamp.valueOf("2026-02-01 10:00:00")),
      (200L, "new200", java.sql.Timestamp.valueOf("2026-02-02 10:00:00"))).toDF("id", "v", "ts"),
      Seq("id"))
    t.deleteKeysMor("tab", Seq(7L, 200L).toDF("id"))
    val dest = java.nio.file.Files.createTempDirectory("graft-ice-hid-out").toString
    val mdPath = IcebergExport.export(t, "tab", dest)

    // spec 0 declares day(ts) and truncate[4](v); the xxhash bucket is
    // honestly omitted; spec 1 is the unpartitioned delete spec
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val md = om.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(new java.net.URI(mdPath).getPath)))
    val specs = md.get("partition-specs")
    assert(specs.size == 2)
    val fields = specs.get(0).get("fields")
    assert(fields.size == 2)
    assert(fields.get(0).get("name").asText == "ts_day" &&
      fields.get(0).get("transform").asText == "day" &&
      fields.get(0).get("source-id").asInt == 3)
    assert(fields.get(1).get("name").asText == "v_trunc" &&
      fields.get(1).get("transform").asText == "truncate[4]" &&
      fields.get(1).get("source-id").asInt == 2)
    assert(specs.get(1).get("fields").size == 0)

    // a data manifest entry's partition struct carries the typed
    // transform values: date ordinal for day, leading chars for trunc
    val snaps = md.get("snapshots")
    val cur = md.get("current-snapshot-id").asLong
    val curSnap = (0 until snaps.size).map(snaps.get).find(_.get("snapshot-id").asLong == cur).get
    val (listRows, _) = readAvro(curSnap.get("manifest-list").asText)
    val dataManifest = listRows.find(r => r("content") == 0).get
    assert(dataManifest("partition_spec_id") == 0)
    val entry = readAvro(dataManifest("manifest_path").toString)._1.head
    val part = entry("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
      .get("partition").asInstanceOf[org.apache.avro.generic.GenericRecord]
    val day = java.time.LocalDate.ofEpochDay(part.get("ts_day").asInstanceOf[Int].toLong)
    assert(day.getYear == 2026 && day.getMonthValue == 2)
    assert(part.get("v_trunc").toString == "name")

    // content round-trips exactly (derived __p_* dirs never surface),
    // at head and per snapshot
    def set(d: org.apache.spark.sql.DataFrame) =
      d.as[(Long, String, java.sql.Timestamp)].collect().toSet
    val back = IcebergImport.read(spark, dest)
    assert(back.columns.toSet == Set("id", "v", "ts"))
    assert(set(back) == set(t.read("tab")))
    t.history("tab").foreach { ver =>
      assert(set(IcebergImport.read(spark, dest, Some(ver.toLong))) ==
        set(t.readVersion("tab", ver)), s"version $ver diverged")
    }
  }

  test("a delete manifest addressing a missing delete file fails loudly, never resurrects rows") {
    val (_, dest) = exported()
    // hand-write a manifest whose data_file has content=1 (position deletes)
    val schema = new org.apache.avro.Schema.Parser().parse(IcebergMetadata.ManifestEntryAvro)
    val dfSchema = schema.getField("data_file").schema()
    val pSchema = dfSchema.getField("partition").schema()
    val delManifest = java.nio.file.Paths.get(dest, "metadata", "m-del.avro")
    val w = new org.apache.avro.file.DataFileWriter[org.apache.avro.generic.GenericRecord](
      new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](schema))
    w.create(schema, delManifest.toFile)
    val df = new org.apache.avro.generic.GenericData.Record(dfSchema)
    df.put("content", 1)
    df.put("file_path", "/nowhere/deletes.parquet")
    df.put("file_format", "PARQUET")
    df.put("partition", new org.apache.avro.generic.GenericData.Record(pSchema))
    df.put("record_count", 1L)
    df.put("file_size_in_bytes", 10L)
    val e = new org.apache.avro.generic.GenericData.Record(schema)
    e.put("status", 1); e.put("data_file", df)
    w.append(e); w.close()
    // splice it into the current snapshot via an inline-manifests metadata
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val metaDir = java.nio.file.Paths.get(dest, "metadata")
    val hint = java.nio.file.Files.readString(metaDir.resolve("version-hint.text")).trim
    val mdFile = IcebergTestSplice.mdFile(metaDir, hint.toInt)
    val md = om.readTree(java.nio.file.Files.readString(mdFile)).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val snaps = md.get("snapshots")
    val cur = md.get("current-snapshot-id").asLong
    val curSnap = (0 until snaps.size).map(snaps.get)
      .find(_.get("snapshot-id").asLong == cur).get.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    // keep the snapshot's DATA manifests — without them the read is
    // legitimately empty and never needs the delete file at all
    val dataManifests = readAvro(curSnap.get("manifest-list").asText)._1
      .map(_("manifest_path").toString)
    curSnap.remove("manifest-list")
    val inl = curSnap.putArray("manifests")
    dataManifests.foreach(inl.add)
    inl.add(delManifest.toString)
    val badDir = java.nio.file.Files.createTempDirectory("graft-ice-del").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(badDir, "metadata"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(badDir, "metadata", s"v${hint.toInt}.metadata.json"), om.writeValueAsString(md))
    // position deletes are APPLIED now (IcebergDeletesSpec pins the
    // semantics); a delete file the manifest promises but the store
    // lacks must still fail the read loudly
    val err = intercept[Exception](IcebergImport.read(spark, badDir).count())
    assert(err.getMessage.contains("nowhere") || err.getMessage.contains("PATH_NOT_FOUND")
      || err.getMessage.contains("does not exist"))
  }

  test("a schema.name-mapping.default that is not JSON fails the read, naming the metadata file") {
    val (_, dest) = exported()
    editHead(dest) { md =>
      md.get("properties").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        .put("schema.name-mapping.default", "not json")
    }
    // read as "no mapping", id-less files would silently lose renamed columns
    val e = intercept[IllegalArgumentException](IcebergImport.read(spark, dest).collect())
    assert(e.getMessage.contains("schema.name-mapping.default") &&
      e.getMessage.contains(".metadata.json"), e.getMessage)
  }

  test("a current-schema-id no schema carries fails every face, naming the metadata file") {
    val (_, dest) = exported()
    editHead(dest)(_.put("current-schema-id", 99))
    val faces: Seq[(String, () => Any)] = Seq(
      "read" -> (() => IcebergImport.read(spark, dest).collect()),
      "tableSchema" -> (() => IcebergImport.tableSchema(spark, dest)),
      "append" -> (() => IcebergAppend.append(spark, dest, Seq((1L, "x")).toDF("id", "v"))),
      "addColumn" -> (() => IcebergEvolve.addColumn(spark, dest, "c", "string")))
    faces.foreach { case (face, run) =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("current-schema-id 99") &&
        e.getMessage.contains(".metadata.json"), s"$face: ${e.getMessage}")
    }
  }
}
