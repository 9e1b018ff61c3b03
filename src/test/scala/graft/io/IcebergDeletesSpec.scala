package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Row-level delete application in [[IcebergImport]] — v2 merge-on-read
  * tables. No Iceberg runtime ships here, so the fixtures handcraft a
  * delete snapshot onto an [[IcebergExport]]ed table exactly per the
  * public spec: a delete manifest (content=1/2 data_file entries with
  * explicit sequence numbers), a new manifest list carrying the data
  * manifests plus the delete manifest, and a new metadata JSON whose
  * current snapshot points at it. What's pinned:
  *  - position deletes remove exactly the addressed (file, pos) rows,
  *    at the same-or-later sequence only;
  *  - equality deletes remove matching rows from STRICTLY earlier
  *    sequences only, with null-safe matching;
  *  - audit surfaces (dataFiles/deleteFiles), the SQL face, and time
  *    travel to a pre-delete snapshot all stay coherent;
  *  - unsupported shapes refuse loudly.
  */
class IcebergDeletesSpec extends SparkSpec {
  import spark.implicits._

  private val DelFile = IcebergTestSplice.Del
  private def readAvroRecords(path: String) = IcebergTestSplice.readAvroRecords(path)

  /** Three-snapshot exported table: ids 1-100 (seq 1), 101-150 (seq 2),
    * 151-180 (seq 3). */
  private def exported(): (SnapshotTables, String) = {
    val root = java.nio.file.Files.createTempDirectory("graft-ice-del").toString
    val t = new SnapshotTables(spark, root)
    t.overwriteTable((1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v"), "tab")
    t.append((101 to 150).map(i => (i.toLong, s"v$i")).toDF("id", "v"), "tab")
    t.append((151 to 180).map(i => (i.toLong, s"v$i")).toDF("id", "v"), "tab")
    val dest = java.nio.file.Files.createTempDirectory("graft-ice-del-out").toString
    IcebergExport.export(t, "tab", dest)
    (t, dest)
  }

  private def addDeleteSnapshot(dest: String, dels: Seq[IcebergTestSplice.Del],
      specId: Int = 0, partFields: Seq[(String, String)] = Nil): Unit =
    IcebergTestSplice.addDeleteSnapshot(dest, dels, specId, partFields)

  /** id → (manifest file-path spelling, row position) over the current
    * data files, via the same _metadata coordinates the import uses. */
  private def coords(dest: String): Map[Long, (String, Long)] = {
    val files = IcebergImport.dataFiles(spark, dest)
    spark.read.parquet(files: _*)
      .select($"id", col("_metadata.file_path").as("f"), col("_metadata.row_index").as("p"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
  }

  private def writeDeleteParquet(rows: Seq[(String, Long)]): String = {
    val out = java.nio.file.Files.createTempDirectory("graft-posdel").toString
    rows.toDF("file_path", "pos").coalesce(1).write.mode("overwrite").parquet(out)
    val f = new java.io.File(out).listFiles().find(_.getName.endsWith(".parquet")).get
    f.getAbsolutePath
  }

  test("position deletes remove exactly the addressed rows; audit + time travel coherent") {
    val (_, dest) = exported()
    val c = coords(dest)
    val victims = Seq(1L, 57L, 160L)
    val pd = writeDeleteParquet(victims.map(c))
    addDeleteSnapshot(dest, Seq(DelFile(pd, content = 1, seq = 4)))

    val back = IcebergImport.read(spark, dest)
    assert(back.count() == 177)
    val ids = back.select("id").as[Long].collect().toSet
    victims.foreach(v => assert(!ids.contains(v), s"id $v resurrected"))
    assert(ids == (1L to 180L).toSet -- victims)
    // the file set is unchanged; the delete file is audited separately
    assert(IcebergImport.dataFiles(spark, dest).size ==
      IcebergImport.dataFiles(spark, dest, Some(3L)).size)
    assert(IcebergImport.deleteFiles(spark, dest).map(new java.io.File(_).getName) ==
      Seq(new java.io.File(pd).getName))
    assert(IcebergImport.deleteFiles(spark, dest, Some(3L)).isEmpty)
    // time travel to the pre-delete snapshot still sees every row
    assert(IcebergImport.read(spark, dest, Some(3L)).count() == 180)
  }

  test("position deletes apply at same-or-later sequence only") {
    val (_, dest) = exported()
    val c = coords(dest)
    // one delete file per target so each gets its own entry sequence
    val pdOld = writeDeleteParquet(Seq(c(5L)))   // data seq 1
    val pdNew = writeDeleteParquet(Seq(c(170L))) // data seq 3
    addDeleteSnapshot(dest, Seq(
      DelFile(pdOld, content = 1, seq = 2),  // 2 >= 1 → applies
      DelFile(pdNew, content = 1, seq = 2))) // 2 <  3 → must NOT apply
    val ids = IcebergImport.read(spark, dest).select("id").as[Long].collect().toSet
    assert(!ids.contains(5L), "seq-gated position delete failed to apply")
    assert(ids.contains(170L), "position delete applied to a LATER data file — seq gating broken")
    assert(ids.size == 179)
  }

  test("equality deletes: matching rows from strictly earlier sequences, null-safe") {
    val (_, dest) = exported()
    // field id 1 = "id" in the exported schema
    val eqOut = java.nio.file.Files.createTempDirectory("graft-eqdel").toString
    Seq(7L, 120L, 9999L).toDF("id").coalesce(1).write.mode("overwrite").parquet(eqOut)
    val eqFile = new java.io.File(eqOut).listFiles().find(_.getName.endsWith(".parquet")).get.getAbsolutePath
    addDeleteSnapshot(dest, Seq(DelFile(eqFile, content = 2, seq = 2, eqIds = Seq(1))))
    val ids = IcebergImport.read(spark, dest).select("id").as[Long].collect().toSet
    assert(!ids.contains(7L), "equality delete (seq 2) must remove the seq-1 row")
    assert(ids.contains(120L), "equality delete (seq 2) must NOT touch the seq-2 row")
    assert(ids.size == 179) // 9999 matches nothing

    // null-safe matching on a nullable column (field id 2 = "v")
    val root = java.nio.file.Files.createTempDirectory("graft-ice-null").toString
    val t = new SnapshotTables(spark, root)
    t.overwriteTable(Seq((1L, Some("a")), (2L, None), (3L, Some("c")), (4L, None))
      .toDF("id", "v"), "tab")
    val dest2 = java.nio.file.Files.createTempDirectory("graft-ice-null-out").toString
    IcebergExport.export(t, "tab", dest2)
    val nullOut = java.nio.file.Files.createTempDirectory("graft-eqnull").toString
    Seq(Option.empty[String]).toDF("v").coalesce(1).write.mode("overwrite").parquet(nullOut)
    val nullFile = new java.io.File(nullOut).listFiles().find(_.getName.endsWith(".parquet")).get.getAbsolutePath
    addDeleteSnapshot(dest2, Seq(DelFile(nullFile, content = 2, seq = 9, eqIds = Seq(2))))
    val left = IcebergImport.read(spark, dest2).select("id").as[Long].collect().toSet
    assert(left == Set(1L, 3L), s"null-safe equality delete left $left")
  }

  test("SQL face applies deletes; pushdown still reaches the parquet scan") {
    val (_, dest) = exported()
    val c = coords(dest)
    val pd = writeDeleteParquet(Seq(c(2L), c(4L)))
    addDeleteSnapshot(dest, Seq(DelFile(pd, content = 1, seq = 4)))
    val n = spark.sql(s"SELECT count(*) AS n FROM graft_iceberg_scan('$dest')").collect().head.getLong(0)
    assert(n == 178)
    val filtered = spark.sql(
      s"SELECT id FROM graft_iceberg_scan('$dest') WHERE id <= 5 ORDER BY id")
    assert(filtered.collect().map(_.getLong(0)).toSeq == Seq(1L, 3L, 5L))
    assert(filtered.queryExecution.executedPlan.toString.contains("LessThanOrEqual(id,5)"),
      "filter no longer pushed into the parquet scan under delete application")
    // pre-delete snapshot through SQL still full
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_iceberg_scan('$dest', 3)")
      .collect().head.getLong(0) == 180)
  }

  test("merge-on-read chains export as equality deletes and round-trip exactly") {
    val root = java.nio.file.Files.createTempDirectory("graft-ice-mor").toString
    val t = new SnapshotTables(spark, root)
    t.overwriteTable((1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v"), "tab") // v1
    t.append((101 to 120).map(i => (i.toLong, s"v$i")).toDF("id", "v"), "tab")       // v2
    t.upsertMor("tab",
      Seq((5L, "up5"), (110L, "up110"), (200L, "new200")).toDF("id", "v"), Seq("id")) // v3
    t.deleteKeysMor("tab", Seq(7L, 111L, 200L).toDF("id"))                            // v4
    val dest = java.nio.file.Files.createTempDirectory("graft-ice-mor-out").toString
    IcebergExport.export(t, "tab", dest)

    def set(df: org.apache.spark.sql.DataFrame) = df.as[(Long, String)].collect().toSet
    assert(set(IcebergImport.read(spark, dest)) == set(t.read("tab")))
    // the upsert delta's files are BOTH data files and equality
    // deletes; the key-delete files are deletes only
    val delFs = IcebergImport.deleteFiles(spark, dest)
    val dataFs = IcebergImport.dataFiles(spark, dest)
    assert(delFs.nonEmpty)
    assert(delFs.exists(dataFs.contains), "upsert delta must enter as data AND delete")
    assert(delFs.exists(f => !dataFs.contains(f)), "key-delete file must be delete-only")
    assert(IcebergImport.deleteFiles(spark, dest, Some(2L)).isEmpty)
    // time travel: every retained version reads back exactly
    t.history("tab").foreach { v =>
      assert(set(IcebergImport.read(spark, dest, Some(v.toLong))) ==
        set(t.readVersion("tab", v)), s"version $v diverged")
    }

    // external shape: the head manifest list carries content=1 rows
    // whose manifests hold content=2 entries with equality_ids
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val metaDir = java.nio.file.Paths.get(dest, "metadata")
    val hint = java.nio.file.Files.readString(metaDir.resolve("version-hint.text")).trim.toInt
    val md = om.readTree(java.nio.file.Files.readString(
      IcebergTestSplice.mdFile(metaDir, hint)))
    val cur = md.get("current-snapshot-id").asLong
    val snapsN = md.get("snapshots")
    val listPath = (0 until snapsN.size).map(snapsN.get)
      .find(_.get("snapshot-id").asLong == cur).get.get("manifest-list").asText
    val delManifests = readAvroRecords(listPath)
      .filter(_.get("content").asInstanceOf[Int] == 1)
      .map(_.get("manifest_path").toString)
    assert(delManifests.size == 2, "expected one delete manifest per MOR segment")
    val delEntries = delManifests.flatMap(readAvroRecords)
    assert(delEntries.nonEmpty)
    delEntries.foreach { e =>
      val df = e.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
      assert(df.get("content").asInstanceOf[Int] == 2)
      val ids = df.get("equality_ids").asInstanceOf[java.util.List[_]]
      assert(ids != null && ids.size == 1, "equality_ids must carry the merge key")
      assert(df.get("record_count").asInstanceOf[Long] > 0L, "footer row count missing")
    }

    // after minor compaction (mor_revise) the export still round-trips
    assert(t.compactDeltas("tab"))
    val dest2 = java.nio.file.Files.createTempDirectory("graft-ice-mor-out2").toString
    IcebergExport.export(t, "tab", dest2)
    assert(set(IcebergImport.read(spark, dest2)) == set(t.read("tab")))
    assert(IcebergImport.deleteFiles(spark, dest2).nonEmpty, "revise del/ must export as a delete")
  }

  test("MOR export refusals: map-keyed patches, layout-dropped merge keys, null merge keys") {
    // a patch over a map-typed column: row-value grouping cannot key
    // maps, so the position-delete replay refuses
    val r1 = java.nio.file.Files.createTempDirectory("graft-ice-morref1").toString
    val t1 = new SnapshotTables(spark, r1)
    t1.overwriteTable((1 to 10).map(i => (i.toLong, Map("k" -> s"v$i"))).toDF("id", "m"), "tab")
    t1.deleteWhereMor("tab", col("id") === 3L)
    val e1 = intercept[IllegalArgumentException](IcebergExport.export(t1, "tab",
      java.nio.file.Files.createTempDirectory("x1").toString))
    assert(e1.getMessage.contains("map-typed"))

    // an upsert KEYED ON the partition column: the Hive-style layout
    // drops that column from the delta parquet, and an equality-delete
    // file must physically carry its equality columns
    val r2 = java.nio.file.Files.createTempDirectory("graft-ice-morref2").toString
    val t2 = new SnapshotTables(spark, r2)
    t2.overwriteTable((1 to 20).map(i => (i.toLong, s"v$i", i % 3)).toDF("id", "v", "b"),
      "tab", partitionCols = Seq("b"))
    t2.upsertMor("tab", Seq((100L, "up", 1)).toDF("id", "v", "b"), Seq("b"))
    val e2 = intercept[IllegalArgumentException](IcebergExport.export(t2, "tab",
      java.nio.file.Files.createTempDirectory("x2").toString))
    assert(e2.getMessage.contains("do not carry merge key"))

    // NULL merge keys: Iceberg's null-safe equality would delete rows
    // graft's key-join keeps
    val r3 = java.nio.file.Files.createTempDirectory("graft-ice-morref3").toString
    val t3 = new SnapshotTables(spark, r3)
    t3.overwriteTable(Seq((Some(1L), "a"), (None, "b")).toDF("id", "v"), "tab")
    t3.deleteKeysMor("tab", Seq(Option.empty[Long]).toDF("id"))
    assert(t3.read("tab").count() == 2, "graft itself keeps the null-keyed row")
    val e3 = intercept[IllegalArgumentException](IcebergExport.export(t3, "tab",
      java.nio.file.Files.createTempDirectory("x3").toString))
    assert(e3.getMessage.contains("NULL merge keys"))
  }

  test("content-addressed patches export as POSITION deletes: bag semantics, re-adds, kill interaction") {
    val root = java.nio.file.Files.createTempDirectory("graft-ice-patch").toString
    val t = new SnapshotTables(spark, root)
    // v1 carries DUPLICATE full rows — the case equality deletes
    // cannot express and position deletes exist for
    t.overwriteTable(Seq((1L, "a"), (1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("id", "v"), "tab")                                        // v1
    t.deleteWhereMor("tab", $"id" === 1L)                             // v2: patch, removes BOTH copies
    t.append(Seq((1L, "a"), (5L, "e")).toDF("id", "v"), "tab")        // v3: re-adds an IDENTICAL row
    t.updateMor("tab", Seq("v" -> concat($"v", lit("!"))), $"id" <= 2L) // v4: patch del+add
    t.upsertMor("tab", Seq((3L, "C3")).toDF("id", "v"), Seq("id"))    // v5: equality kill of (3,c)
    t.deleteKeysMor("tab", Seq(4L).toDF("id"))                        // v6
    val dest = java.nio.file.Files.createTempDirectory("graft-ice-patch-out").toString
    IcebergExport.export(t, "tab", dest)

    def set(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String)].collect().groupBy(identity).view.mapValues(_.length).toMap
    // multiset compare at head and at EVERY retained version — the
    // v3 re-added (1,"a") must survive v2's position deletes (later
    // sequence), v4's del of (1,"a") must consume exactly that copy
    assert(set(IcebergImport.read(spark, dest)) == set(t.read("tab")))
    assert(set(IcebergImport.read(spark, dest)) ==
      Map((1L, "a!") -> 1, (2L, "b!") -> 1, (3L, "C3") -> 1, (5L, "e") -> 1))
    t.history("tab").foreach { ver =>
      assert(set(IcebergImport.read(spark, dest, Some(ver.toLong))) ==
        set(t.readVersion("tab", ver)), s"version $ver diverged")
    }

    // external shape: position-delete parquet under deletes/, sorted,
    // entered as content=1 under the unpartitioned spec
    val pdDir = java.nio.file.Paths.get(dest, "deletes")
    assert(java.nio.file.Files.exists(pdDir), "position-delete files must land under deletes/")
    val delFs = IcebergImport.deleteFiles(spark, dest)
    val pdFs = delFs.filter(_.contains("/deletes/"))
    assert(pdFs.size == 2, s"one position-delete file per patch, got $pdFs")
    val pd2 = spark.read.parquet(pdFs.find(_.contains("pd-00002")).get)
      .as[(String, Long)].collect()
    assert(pd2.length == 2, "patch v2 removes exactly the two v1 copies")
    assert(pd2.sortBy(x => (x._1, x._2)).sameElements(pd2), "position deletes must be sorted")
    // a version's files lie in its data dir, resolved through its meta
    def dirName(v: Int) = "/" + new org.apache.hadoop.fs.Path(t.snapshotDirString("tab", v)).getName + "/"
    assert(pd2.forall(_._1.contains(dirName(1))), "patch v2 must only address v1 files")
    val pd4 = spark.read.parquet(pdFs.find(_.contains("pd-00004")).get)
      .as[(String, Long)].collect()
    assert(pd4.length == 2, "patch v4 removes (1,a) and (2,b)")
    assert(pd4.exists(_._1.contains(dirName(3))),
      "patch v4 must consume the v3 re-added copy (v1 copies were consumed by v2)")

    // the reserved field ids ride the parquet footer (external readers
    // resolve position-delete columns by id)
    val leaf = new org.apache.hadoop.fs.Path(pdFs.head)
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        leaf, spark.sparkContext.hadoopConfiguration))
    val schema = try rdr.getFooter.getFileMetaData.getSchema finally rdr.close()
    def fieldId(name: String): Int =
      schema.getFields.get(schema.getFieldIndex(name)).getId.intValue
    assert(fieldId("file_path") == 2147483546)
    assert(fieldId("pos") == 2147483545)
  }

  test("partitioned MOR chains export as GLOBAL equality deletes (unpartitioned spec) and round-trip") {
    val root = java.nio.file.Files.createTempDirectory("graft-ice-pmor").toString
    val t = new SnapshotTables(spark, root)
    t.overwriteTable((1 to 60).map(i => (i.toLong, s"v$i", i % 3)).toDF("id", "v", "b"),
      "tab", partitionCols = Seq("b"))                                                   // v1
    t.append((61 to 80).map(i => (i.toLong, s"v$i", i % 3)).toDF("id", "v", "b"), "tab") // v2
    t.upsertMor("tab",
      Seq((5L, "up5", 2), (70L, "up70", 1), (200L, "new200", 0)).toDF("id", "v", "b"),
      Seq("id"))                                                                         // v3
    t.deleteKeysMor("tab", Seq(7L, 71L, 200L).toDF("id"))                                // v4
    val dest = java.nio.file.Files.createTempDirectory("graft-ice-pmor-out").toString
    IcebergExport.export(t, "tab", dest)

    def set(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "v", "b").as[(Long, String, Int)].collect().toSet
    assert(set(IcebergImport.read(spark, dest)) == set(t.read("tab")))
    t.history("tab").foreach { v =>
      assert(set(IcebergImport.read(spark, dest, Some(v.toLong))) ==
        set(t.readVersion("tab", v)), s"version $v diverged")
    }
    // note the upsert moved id=5 from partition 2 to partition 2 and
    // id=70 from 1 to 1 — but its equality delete must reach EVERY
    // partition: verify a cross-partition key replacement resolved
    val head = IcebergImport.read(spark, dest).where($"id" === 5L).collect()
    assert(head.length == 1 && head.head.getString(1) == "up5")

    // external shape: metadata declares BOTH specs (0 = identity on b,
    // 1 = unpartitioned) and every delete manifest rides spec 1
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val metaDir = java.nio.file.Paths.get(dest, "metadata")
    val hint = java.nio.file.Files.readString(metaDir.resolve("version-hint.text")).trim.toInt
    val md = om.readTree(java.nio.file.Files.readString(
      IcebergTestSplice.mdFile(metaDir, hint)))
    val specs = md.get("partition-specs")
    assert(specs.size == 2)
    assert(specs.get(0).get("spec-id").asInt == 0 &&
      specs.get(0).get("fields").get(0).get("name").asText == "b")
    assert(specs.get(1).get("spec-id").asInt == 1 && specs.get(1).get("fields").size == 0)
    val cur = md.get("current-snapshot-id").asLong
    val snapsN = md.get("snapshots")
    val listPath = (0 until snapsN.size).map(snapsN.get)
      .find(_.get("snapshot-id").asLong == cur).get.get("manifest-list").asText
    val listRows = readAvroRecords(listPath)
    val delRows = listRows.filter(_.get("content").asInstanceOf[Int] == 1)
    assert(delRows.nonEmpty)
    delRows.foreach(r => assert(r.get("partition_spec_id").asInstanceOf[Int] == 1,
      "delete manifests must ride the unpartitioned spec (global equality deletes)"))
    listRows.filter(_.get("content").asInstanceOf[Int] == 0)
      .filterNot(r => r.get("manifest_path").toString.contains("md-"))
      .foreach { r =>
        val entries = readAvroRecords(r.get("manifest_path").toString)
        // data manifests for directory-bearing files carry spec 0 with
        // a populated partition struct
        if (entries.nonEmpty && r.get("partition_spec_id").asInstanceOf[Int] == 0) {
          val part = entries.head.get("data_file")
            .asInstanceOf[org.apache.avro.generic.GenericRecord]
            .get("partition").asInstanceOf[org.apache.avro.generic.GenericRecord]
          assert(part.get("b") != null)
        }
      }
  }

  test("partition-scoped equality deletes (identity spec) apply only within their partition") {
    val root = java.nio.file.Files.createTempDirectory("graft-ice-scope").toString
    val t = new SnapshotTables(spark, root)
    // ids 1..12 appear in EVERY partition b ∈ {0,1,2}
    t.overwriteTable((for { b <- 0 to 2; i <- 1 to 12 } yield (i.toLong, s"r$i-$b", b))
      .toDF("id", "v", "b"), "tab", partitionCols = Seq("b"))
    val dest = java.nio.file.Files.createTempDirectory("graft-ice-scope-out").toString
    IcebergExport.export(t, "tab", dest)
    val eqOut = java.nio.file.Files.createTempDirectory("graft-eqdel-scope").toString
    Seq(3L, 9L).toDF("id").coalesce(1).write.mode("overwrite").parquet(eqOut)
    val eqFile = new java.io.File(eqOut).listFiles().find(_.getName.endsWith(".parquet")).get.getAbsolutePath
    // scoped to partition b=1: spliced under spec 0 (identity on b)
    // with the partition struct populated
    addDeleteSnapshot(dest, Seq(DelFile(eqFile, content = 2, seq = 9, eqIds = Seq(1),
      partVals = Seq("b" -> Integer.valueOf(1)))),
      specId = 0, partFields = Seq(("b", "int")))
    val back = IcebergImport.read(spark, dest)
      .select("id", "b").as[(Long, Int)].collect().toSet
    assert(!back.contains((3L, 1)) && !back.contains((9L, 1)),
      "scoped delete failed to apply inside its partition")
    assert(back.contains((3L, 0)) && back.contains((3L, 2)) &&
      back.contains((9L, 0)) && back.contains((9L, 2)),
      "scoped delete leaked outside its partition")
    assert(back.size == 3 * 12 - 2)

    // the same delete spliced WITHOUT partition values refuses loudly
    val dest2 = java.nio.file.Files.createTempDirectory("graft-ice-scope-out2").toString
    IcebergExport.export(t, "tab", dest2)
    addDeleteSnapshot(dest2, Seq(DelFile(eqFile, content = 2, seq = 9, eqIds = Seq(1))), specId = 0)
    val e = intercept[IllegalArgumentException](IcebergImport.read(spark, dest2))
    assert(e.getMessage.contains("partition struct lacks field"))

    // a BUCKET-scoped equality delete (foreign writer's murmur3 spec)
    // now APPLIES, gated by the recomputed bucket of each row's source
    // column — splice under a fabricated bucket[16] spec on id
    def withSplicedSpec(transform: String): String = {
      val destN = java.nio.file.Files.createTempDirectory("graft-ice-scope-outN").toString
      IcebergExport.export(t, "tab", destN)
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val metaDirN = java.nio.file.Paths.get(destN, "metadata")
      val hintN = java.nio.file.Files.readString(metaDirN.resolve("version-hint.text")).trim.toInt
      val mdFileN = IcebergTestSplice.mdFile(metaDirN, hintN)
      val mdN = om.readTree(java.nio.file.Files.readString(mdFileN))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val specsArr = mdN.get("partition-specs")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
      val fSpec = specsArr.addObject()
      fSpec.put("spec-id", 7)
      val bf = fSpec.putArray("fields").addObject()
      bf.put("name", "id_scope"); bf.put("transform", transform)
      bf.put("source-id", 1); bf.put("field-id", 1007)
      java.nio.file.Files.writeString(mdFileN, om.writeValueAsString(mdN))
      java.nio.file.Files.deleteIfExists(metaDirN.resolve("." + mdFileN.getFileName + ".crc"))
      destN
    }
    val dest3 = withSplicedSpec("bucket[16]")
    val b3 = graft.functions.IcebergMurmur3.bucket(graft.functions.IcebergMurmur3.hashLong(3L), 16)
    val b9 = graft.functions.IcebergMurmur3.bucket(graft.functions.IcebergMurmur3.hashLong(9L), 16)
    addDeleteSnapshot(dest3, Seq(DelFile(eqFile, content = 2, seq = 9, eqIds = Seq(1),
      partVals = Seq("id_scope" -> Integer.valueOf(b3)))),
      specId = 7, partFields = Seq(("id_scope", "int")))
    val back3 = IcebergImport.read(spark, dest3).select("id").as[Long].collect()
    assert(!back3.contains(3L), "bucket-scoped delete must apply to id=3 (its own bucket)")
    assert(back3.contains(9L) == (b9 != b3),
      "id=9 must survive iff its murmur3 bucket differs from the delete's scope")

    // a transform the importer cannot evaluate still refuses loudly
    val dest4 = withSplicedSpec("void")
    addDeleteSnapshot(dest4, Seq(DelFile(eqFile, content = 2, seq = 9, eqIds = Seq(1),
      partVals = Seq("id_scope" -> Integer.valueOf(3)))),
      specId = 7, partFields = Seq(("id_scope", "int")))
    val e4 = intercept[IllegalArgumentException](IcebergImport.read(spark, dest4))
    assert(e4.getMessage.contains("unsupported partition transform"))
  }

  /** Splice `transform` on `sourceId` as spec 7 of an export. */
  private def spliceSpec(dest: String, transform: String, name: String, sourceId: Int): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val metaDir = java.nio.file.Paths.get(dest, "metadata")
    val hint = java.nio.file.Files.readString(metaDir.resolve("version-hint.text")).trim.toInt
    val mdFile = IcebergTestSplice.mdFile(metaDir, hint)
    val md = om.readTree(java.nio.file.Files.readString(mdFile))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val fSpec = md.get("partition-specs")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode].addObject()
    fSpec.put("spec-id", 7)
    val bf = fSpec.putArray("fields").addObject()
    bf.put("name", name); bf.put("transform", transform)
    bf.put("source-id", sourceId); bf.put("field-id", 1007)
    java.nio.file.Files.writeString(mdFile, om.writeValueAsString(md))
    java.nio.file.Files.deleteIfExists(metaDir.resolve("." + mdFile.getFileName + ".crc"))
  }

  private def eqDeleteFile(prefix: String, ids: Seq[Long]): String = {
    val out = java.nio.file.Files.createTempDirectory(prefix).toString
    ids.toDF("id").coalesce(1).write.mode("overwrite").parquet(out)
    new java.io.File(out).listFiles().find(_.getName.endsWith(".parquet")).get.getAbsolutePath
  }

  test("day-scoped equality deletes apply via the computed day transform (date-logical value)") {
    val root = java.nio.file.Files.createTempDirectory("graft-ice-day").toString
    val t = new SnapshotTables(spark, root)
    t.overwriteTable((1 to 12).map(i =>
      (i.toLong, java.sql.Date.valueOf(f"2026-01-0${i % 3 + 1}"), s"v$i")).toDF("id", "d", "v"), "tab")
    val dest = java.nio.file.Files.createTempDirectory("graft-ice-day-out").toString
    IcebergExport.export(t, "tab", dest)
    spliceSpec(dest, "day", "d_day", sourceId = 2)
    // id=5 has d=2026-01-03 (5%3+1), id=9 has d=2026-01-01: scope the
    // delete to day(2026-01-03) — only id=5 goes
    val eqFile = eqDeleteFile("graft-eq-day", Seq(5L, 9L))
    val dayVal = java.time.LocalDate.parse("2026-01-03").toEpochDay.toInt
    addDeleteSnapshot(dest, Seq(DelFile(eqFile, content = 2, seq = 9, eqIds = Seq(1),
      partVals = Seq("d_day" -> Integer.valueOf(dayVal)))),
      specId = 7, partFields = Seq(("d_day", "date")))
    val back = IcebergImport.read(spark, dest).select("id").as[Long].collect().toSet
    assert(!back.contains(5L), "day-scoped delete must apply inside its day")
    assert(back.contains(9L), "day-scoped delete must not leak outside its day")
    assert(back.size == 11)
  }

  test("truncate-scoped equality deletes apply via the computed prefix (string source)") {
    val root = java.nio.file.Files.createTempDirectory("graft-ice-trunc").toString
    val t = new SnapshotTables(spark, root)
    t.overwriteTable(Seq((1L, "abcdef"), (2L, "abcxyz"), (3L, "xyzabc"), (4L, "abq"))
      .toDF("id", "name"), "tab")
    val dest = java.nio.file.Files.createTempDirectory("graft-ice-trunc-out").toString
    IcebergExport.export(t, "tab", dest)
    spliceSpec(dest, "truncate[3]", "name_trunc", sourceId = 2)
    // delete ids {1,3} scoped to prefix 'abc': id=1 (abcdef) goes,
    // id=3 (xyzabc) survives
    val eqFile = eqDeleteFile("graft-eq-trunc", Seq(1L, 3L))
    addDeleteSnapshot(dest, Seq(DelFile(eqFile, content = 2, seq = 9, eqIds = Seq(1),
      partVals = Seq("name_trunc" -> "abc"))),
      specId = 7, partFields = Seq(("name_trunc", "string")))
    val back = IcebergImport.read(spark, dest).select("id").as[Long].collect().toSet
    assert(back == Set(2L, 3L, 4L))
  }

  test("unsupported delete shapes refuse loudly") {

    // non-parquet delete file
    val (_, dest2) = exported()
    addDeleteSnapshot(dest2, Seq(DelFile("/nowhere/d.avro", content = 1, seq = 4, format = "AVRO")))
    val e2 = intercept[IllegalArgumentException](IcebergImport.read(spark, dest2))
    assert(e2.getMessage.contains("non-parquet"))

    // position delete file without the spec's columns
    val (_, dest3) = exported()
    val badOut = java.nio.file.Files.createTempDirectory("graft-baddel").toString
    Seq(("x", 1L)).toDF("not_file_path", "not_pos").coalesce(1).write.mode("overwrite").parquet(badOut)
    val badFile = new java.io.File(badOut).listFiles().find(_.getName.endsWith(".parquet")).get.getAbsolutePath
    addDeleteSnapshot(dest3, Seq(DelFile(badFile, content = 1, seq = 4)))
    val e3 = intercept[IllegalArgumentException](IcebergImport.read(spark, dest3))
    assert(e3.getMessage.contains("file_path") || e3.getMessage.contains("pos"))

    // unknown equality field id
    val (_, dest4) = exported()
    val eqOut4 = java.nio.file.Files.createTempDirectory("graft-eqdel4").toString
    Seq(1L).toDF("id").coalesce(1).write.mode("overwrite").parquet(eqOut4)
    val eqFile4 = new java.io.File(eqOut4).listFiles().find(_.getName.endsWith(".parquet")).get.getAbsolutePath
    addDeleteSnapshot(dest4, Seq(DelFile(eqFile4, content = 2, seq = 9, eqIds = Seq(77))))
    val e4 = intercept[IllegalArgumentException](IcebergImport.read(spark, dest4))
    assert(e4.getMessage.contains("field id 77"))
  }
}
