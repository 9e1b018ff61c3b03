package graft.io

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema evolution across the jar-free Iceberg bridge — the spec's
  * COLUMN PROJECTION rules on the import side:
  *  - data files whose parquet footers carry FIELD IDS resolve columns
  *    by id: renames and re-orders come out under the CURRENT names,
  *    added columns read as typed NULLs from files that predate them;
  *  - id-less files (Hive-migrated tables, graft's own exports)
  *    resolve through `schema.name-mapping.default`, falling back to
  *    typed NULLs for unmapped new columns;
  *  - the two vintages mix freely in one snapshot;
  *  - equality-delete files follow the same rule (an id-carrying
  *    delete file keeps applying across a rename);
  *  - [[IcebergEvolve]] performs the rename/add as a metadata-only
  *    commit (new schema-id + name-mapping maintenance, per the spec's
  *    evolution rules);
  *  - footer-probe classification is budgeted: past the budget a
  *    sampled class is inherited, and a MISclassified id-less file
  *    fails loudly under the id read instead of mis-matching columns.
  */
class IcebergEvolutionSpec extends SparkSpec {
  import spark.implicits._

  /** One parquet file whose footer carries Iceberg field ids. */
  private def writeIdParquet(rows: Seq[Row], schema: StructType): String = {
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val dir = java.nio.file.Files.createTempDirectory("graft-ice-idpq").toString
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head.toString
  }

  private def idField(name: String, dt: DataType, id: Long): StructField =
    StructField(name, dt, nullable = true,
      new MetadataBuilder().putLong("parquet.field.id", id).build())

  /** A foreign v1-shaped table over the given data files: inline
    * manifest, parametrized schema fields JSON, optional properties. */
  private def writeForeign(dataFiles: Seq[String], schemaFieldsJson: String,
      props: Map[String, String] = Map.empty): String = {
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val dir = java.nio.file.Files.createTempDirectory("graft-ice-evo").toString
    val metaDir = java.nio.file.Paths.get(dir, "metadata")
    java.nio.file.Files.createDirectories(metaDir)
    val entryAvro =
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"snapshot_id","type":["null","long"],"default":null},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |{"name":"file_path","type":"string"},
        |{"name":"file_format","type":"string"},
        |{"name":"partition","type":{"type":"record","name":"r102","fields":[]}},
        |{"name":"record_count","type":"long"},
        |{"name":"file_size_in_bytes","type":"long"}
        |]}}
        |]}""".stripMargin
    val schema = new org.apache.avro.Schema.Parser().parse(entryAvro)
    val dfSchema = schema.getField("data_file").schema()
    val mPath = metaDir.resolve("m0.avro")
    val w = new org.apache.avro.file.DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    w.setMeta("format-version", "1")
    w.create(schema, mPath.toFile)
    dataFiles.foreach { f =>
      val dfr = new GenericData.Record(dfSchema)
      dfr.put("file_path", f)
      dfr.put("file_format", "PARQUET")
      dfr.put("partition", new GenericData.Record(dfSchema.getField("partition").schema()))
      dfr.put("record_count", 2L)
      dfr.put("file_size_in_bytes", java.nio.file.Files.size(java.nio.file.Paths.get(f)))
      val e = new GenericData.Record(schema)
      e.put("status", 1)
      e.put("data_file", dfr)
      w.append(e)
    }
    w.close()
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val propsJson = props.map { case (k, v) =>
      s"${om.writeValueAsString(k)}:${om.writeValueAsString(v)}"
    }.mkString("{", ",", "}")
    val md =
      s"""{"format-version":1,"table-uuid":"00000000-0000-0000-0000-00000000e001",
         |"location":"$dir","last-updated-ms":1,"last-column-id":9,
         |"schema":{"type":"struct","schema-id":0,"fields":[$schemaFieldsJson]},
         |"partition-spec":[],"properties":$propsJson,
         |"current-snapshot-id":1,
         |"snapshots":[{"snapshot-id":1,"timestamp-ms":1,
         |"manifests":["$mPath"]}]}""".stripMargin
    java.nio.file.Files.writeString(metaDir.resolve("v1.metadata.json"), md)
    java.nio.file.Files.writeString(metaDir.resolve("version-hint.text"), "1")
    dir
  }

  private val idAmount = StructType(Seq(
    idField("id", LongType, 1), idField("amount", DoubleType, 2)))

  test("rename resolves BY FIELD ID over id-carrying data files") {
    val f = writeIdParquet(Seq(Row(1L, 10.5), Row(2L, 20.5)), idAmount)
    val dir = writeForeign(Seq(f),
      """{"id":1,"name":"id","required":false,"type":"long"},
        |{"id":2,"name":"price","required":false,"type":"double"}""".stripMargin)
    val out = IcebergImport.read(spark, dir)
    assert(out.columns.toSeq == Seq("id", "price"))
    assert(out.as[(Long, Double)].collect().toSet == Set((1L, 10.5), (2L, 20.5)))
  }

  test("added column reads as typed NULL from older files; vintages mix in one snapshot") {
    val oldFile = writeIdParquet(Seq(Row(1L, 10.5), Row(2L, 20.5)), idAmount)
    val newFile = writeIdParquet(Seq(Row(3L, 30.5, "x"), Row(4L, 40.5, "y")),
      StructType(Seq(idField("id", LongType, 1), idField("price", DoubleType, 2),
        idField("note", StringType, 3))))
    val dir = writeForeign(Seq(oldFile, newFile),
      """{"id":1,"name":"id","required":false,"type":"long"},
        |{"id":2,"name":"price","required":false,"type":"double"},
        |{"id":3,"name":"note","required":false,"type":"string"}""".stripMargin)
    val out = IcebergImport.read(spark, dir)
    assert(out.columns.toSeq == Seq("id", "price", "note"))
    assert(out.as[(Long, Double, Option[String])].collect().toSet == Set(
      (1L, 10.5, None), (2L, 20.5, None), (3L, 30.5, Some("x")), (4L, 40.5, Some("y"))))
  }

  test("name-mapping resolves renames over id-LESS files") {
    val dir0 = java.nio.file.Files.createTempDirectory("graft-ice-plain").toString
    Seq((1L, 10.5), (2L, 20.5)).toDF("id", "amount").coalesce(1)
      .write.mode("overwrite").parquet(dir0)
    val f = new java.io.File(dir0).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toString
    val dir = writeForeign(Seq(f),
      """{"id":1,"name":"id","required":false,"type":"long"},
        |{"id":2,"name":"price","required":false,"type":"double"},
        |{"id":3,"name":"note","required":false,"type":"string"}""".stripMargin,
      props = Map("schema.name-mapping.default" ->
        """[{"field-id":2,"names":["amount"]}]"""))
    val out = IcebergImport.read(spark, dir)
    assert(out.columns.toSeq == Seq("id", "price", "note"))
    // price resolves through the mapping; unmapped new column is NULL
    assert(out.as[(Long, Double, Option[String])].collect().toSet == Set(
      (1L, 10.5, None), (2L, 20.5, None)))
  }

  test("IcebergEvolve: metadata-only rename + add column on an exported table") {
    val root = java.nio.file.Files.createTempDirectory("graft-ice-evapi").toString
    val t = new SnapshotTables(spark, root)
    t.overwriteTable(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), "tab")
    val dest = java.nio.file.Files.createTempDirectory("graft-ice-evapi-out").toString
    IcebergExport.export(t, "tab", dest)
    IcebergEvolve.renameColumn(spark, dest, "v", "label")
    IcebergEvolve.addColumn(spark, dest, "score", "long")
    val out = IcebergImport.read(spark, dest)
    assert(out.columns.toSeq == Seq("k", "label", "score"))
    assert(out.as[(Long, String, Option[Long])].collect().toSet == Set(
      (1L, "a", None), (2L, "b", None), (3L, "c", None)))
    // the commit appended a NEW schema-id (no rewrite of history)
    val md = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      java.nio.file.Files.readString(IcebergTestSplice.mdFile(
        java.nio.file.Paths.get(dest, "metadata"),
        java.nio.file.Files.readString(
          java.nio.file.Paths.get(dest, "metadata", "version-hint.text")).trim.toInt)))
    assert(md.get("schemas").size() >= 2)
    assert(md.get("current-schema-id").asInt > 0)
    assert(md.get("last-column-id").asInt == 3)
    assert(md.get("properties").get("schema.name-mapping.default").asText.contains("\"v\""))
  }

  test("equality deletes keep applying across a rename (id-carrying delete file)") {
    val root = java.nio.file.Files.createTempDirectory("graft-ice-evdel").toString
    val t = new SnapshotTables(spark, root)
    t.overwriteTable((1L to 6L).map(i => (i, s"v$i")).toDF("k", "v"), "tab")
    val dest = java.nio.file.Files.createTempDirectory("graft-ice-evdel-out").toString
    IcebergExport.export(t, "tab", dest)
    // a FOREIGN writer's equality-delete file, footer carrying field
    // id 1 under the post-rename spelling
    val delFile = writeIdParquet(Seq(Row(2L), Row(4L)),
      StructType(Seq(idField("key", LongType, 1))))
    IcebergTestSplice.addDeleteSnapshot(dest,
      Seq(IcebergTestSplice.Del(delFile, content = 2, seq = 100L, eqIds = Seq(1))))
    IcebergEvolve.renameColumn(spark, dest, "k", "key")
    val out = IcebergImport.read(spark, dest)
    assert(out.columns.toSeq == Seq("key", "v"))
    assert(out.as[(Long, String)].collect().toSet ==
      Set((1L, "v1"), (3L, "v3"), (5L, "v5"), (6L, "v6")))
  }

  test("IcebergEvolve: drop column is metadata-only; partition sources refuse") {
    val root = java.nio.file.Files.createTempDirectory("graft-ice-evdrop").toString
    val t = new SnapshotTables(spark, root)
    t.overwriteTable(Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "v", "w"), "tab",
      partitionCols = Seq("w"))
    val dest = java.nio.file.Files.createTempDirectory("graft-ice-evdrop-out").toString
    IcebergExport.export(t, "tab", dest)
    IcebergEvolve.dropColumn(spark, dest, "v")
    val out = IcebergImport.read(spark, dest)
    assert(out.columns.toSet == Set("k", "w"))
    assert(out.as[(Long, Int)].collect().toSet == Set((1L, 10), (2L, 20)))
    // a partition-source column refuses (layout identity)
    val e = intercept[IllegalArgumentException](IcebergEvolve.dropColumn(spark, dest, "w"))
    assert(e.getMessage.contains("partition source"))
    // the dropped field id is never reused
    val md = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      java.nio.file.Files.readString(IcebergTestSplice.mdFile(
        java.nio.file.Paths.get(dest, "metadata"),
        java.nio.file.Files.readString(
          java.nio.file.Paths.get(dest, "metadata", "version-hint.text")).trim.toInt)))
    assert(md.get("last-column-id").asInt == 3)
  }

  test("type promotion widens old files: by-id int32->long, id-less float->double") {
    // by-id: the file stores int32 under field id 2; the evolved
    // schema says long — the id read upcasts per the spec's promotion
    val f1 = writeIdParquet(Seq(Row(1L, 7), Row(2L, 8)),
      StructType(Seq(idField("id", LongType, 1), idField("n", IntegerType, 2))))
    val dir1 = writeForeign(Seq(f1),
      """{"id":1,"name":"id","required":false,"type":"long"},
        |{"id":2,"name":"n","required":false,"type":"long"}""".stripMargin)
    val out1 = IcebergImport.read(spark, dir1)
    assert(out1.schema("n").dataType == LongType)
    assert(out1.as[(Long, Long)].collect().toSet == Set((1L, 7L), (2L, 8L)))

    // id-less: plain footer stores float; table schema says double —
    // the name-resolution projection casts up, schema matches metadata
    val dir0 = java.nio.file.Files.createTempDirectory("graft-ice-promo").toString
    Seq((1L, 1.5f), (2L, 2.5f)).toDF("id", "x").coalesce(1)
      .write.mode("overwrite").parquet(dir0)
    val f2 = new java.io.File(dir0).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toString
    val dir2 = writeForeign(Seq(f2),
      """{"id":1,"name":"id","required":false,"type":"long"},
        |{"id":2,"name":"x","required":false,"type":"double"}""".stripMargin)
    val out2 = IcebergImport.read(spark, dir2)
    assert(out2.schema("x").dataType == DoubleType)
    assert(out2.as[(Long, Double)].collect().toSet == Set((1L, 1.5d), (2L, 2.5d)))
  }

  test("IcebergEvolve.promoteColumn accepts only the spec's legal promotions") {
    val root = java.nio.file.Files.createTempDirectory("graft-ice-evpro").toString
    val t = new SnapshotTables(spark, root)
    t.overwriteTable(Seq((1L, 7), (2L, 8)).toDF("k", "n"), "tab")
    val dest = java.nio.file.Files.createTempDirectory("graft-ice-evpro-out").toString
    IcebergExport.export(t, "tab", dest)
    IcebergEvolve.promoteColumn(spark, dest, "n", "long")
    val out = IcebergImport.read(spark, dest)
    assert(out.schema("n").dataType == LongType)
    assert(out.as[(Long, Long)].collect().toSet == Set((1L, 7L), (2L, 8L)))
    val e = intercept[IllegalArgumentException](
      IcebergEvolve.promoteColumn(spark, dest, "n", "int"))
    assert(e.getMessage.contains("not a legal"))
  }

  test("pushdown and pruning reach the scan THROUGH the rename projection") {
    val root = java.nio.file.Files.createTempDirectory("graft-ice-evplan").toString
    val t = new SnapshotTables(spark, root)
    t.overwriteTable((1L to 5L).map(i => (i, s"v$i", i * 1.0)).toDF("k", "v", "w"), "tab")
    val dest = java.nio.file.Files.createTempDirectory("graft-ice-evplan-out").toString
    IcebergExport.export(t, "tab", dest)
    IcebergEvolve.renameColumn(spark, dest, "v", "label")
    val q = IcebergImport.read(spark, dest)
      .filter(col("k") > 2L).select(col("k"), col("label"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThan(k,2)"), plan)     // filter pushed to the scan
    assert(plan.contains("ReadSchema: struct<k:bigint,v:string>"), plan) // pruned to the
    // two PHYSICAL columns — the untouched 'w' never read, 'label'
    // resolved to its historical physical name
    assert(q.count() == 3)
  }

  test("tags: readRef time-travel, expiry retains tagged snapshots, refusal matrix") {
    val root = java.nio.file.Files.createTempDirectory("graft-ice-tag").toString
    val t = new SnapshotTables(spark, root)
    t.overwriteTable((1L to 3L).map(i => (i, s"v$i")).toDF("k", "v"), "tab")
    val dest = java.nio.file.Files.createTempDirectory("graft-ice-tag-out").toString
    IcebergExport.export(t, "tab", dest)
    IcebergEvolve.createTag(spark, dest, "baseline")
    IcebergAppend.append(spark, dest, Seq((4L, "v4")).toDF("k", "v"))

    val refs = IcebergImport.refs(spark, dest)
    assert(refs.contains("main") && refs("baseline")._2 == "tag")
    assert(IcebergImport.readRef(spark, dest, "baseline")
      .as[(Long, String)].collect().toSet == (1L to 3L).map(i => (i, s"v$i")).toSet)
    assert(IcebergImport.readRef(spark, dest, "main")
      .as[(Long, String)].collect().toSet == (1L to 4L).map(i => (i, s"v$i")).toSet)
    // the SQL face takes the ref as a string second argument
    assert(spark.sql(s"SELECT COUNT(*) FROM graft_iceberg_scan('$dest', 'baseline')")
      .collect().head.getLong(0) == 3)
    assert(spark.sql(
      s"SELECT MAX(k) FROM graft_iceberg_scan('$dest', 'main')").collect().head.getLong(0) == 4)

    // expiry keeps the TAGGED snapshot alive (a tag is a promise) and
    // leaves its files out of the orphan inventory
    IcebergMaintenance.expireSnapshots(spark, dest, keepLast = 1, removeOrphans = true)
    assert(IcebergImport.readRef(spark, dest, "baseline")
      .as[(Long, String)].collect().toSet == (1L to 3L).map(i => (i, s"v$i")).toSet)
    assert(IcebergImport.read(spark, dest).count() == 4)

    // refusals: duplicate tag, unknown snapshot, dropping main,
    // reading an unknown ref
    assert(intercept[IllegalArgumentException](
      IcebergEvolve.createTag(spark, dest, "baseline")).getMessage.contains("already exists"))
    assert(intercept[IllegalArgumentException](
      IcebergEvolve.createTag(spark, dest, "x", Some(999L))).getMessage.contains("not in"))
    assert(intercept[IllegalArgumentException](
      IcebergEvolve.dropRef(spark, dest, "main")).getMessage.contains("main branch"))
    assert(intercept[IllegalArgumentException](
      IcebergImport.readRef(spark, dest, "nope")).getMessage.contains("no ref"))

    // dropping the tag releases its snapshot to the next expiry
    IcebergEvolve.dropRef(spark, dest, "baseline")
    IcebergMaintenance.expireSnapshots(spark, dest, keepLast = 1, removeOrphans = true)
    assert(IcebergImport.snapshots(spark, dest).size == 1)
    assert(IcebergImport.read(spark, dest).count() == 4)
  }

  test("a misclassified id-less file under a tight probe budget fails loudly, never mis-reads") {
    val idFile = writeIdParquet(Seq(Row(1L, 10.5)), idAmount)
    val dir0 = java.nio.file.Files.createTempDirectory("graft-ice-noid").toString
    Seq((2L, 20.5)).toDF("id", "amount").coalesce(1).write.mode("overwrite").parquet(dir0)
    val plainFile = new java.io.File(dir0).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toString
    val dir = writeForeign(Seq(idFile, plainFile),
      """{"id":1,"name":"id","required":false,"type":"long"},
        |{"id":2,"name":"amount","required":false,"type":"double"}""".stripMargin)
    try {
      // budget 1 probes only the first (id-carrying) file; the id-less
      // one inherits the sampled class and the id read REFUSES it when
      // the scan materializes columns (a bare count() prunes the
      // requested schema to zero fields, where no id check can apply)
      spark.conf.set(IcebergImport.ProbeBudgetConf, "1")
      val loud = intercept[Throwable](IcebergImport.read(spark, dir).collect())
      assert(loud.getMessage != null)
      // an adequate budget classifies per file and the vintages mix
      spark.conf.set(IcebergImport.ProbeBudgetConf, "1024")
      assert(IcebergImport.read(spark, dir).as[(Long, Double)].collect().toSet ==
        Set((1L, 10.5), (2L, 20.5)))
    } finally spark.conf.unset(IcebergImport.ProbeBudgetConf)
  }

  test("a data file rewritten at the same path is re-probed, not given the old footer's class") {
    val fields =
      """{"id":1,"name":"id","required":false,"type":"long"},
        |{"id":2,"name":"amount","required":false,"type":"double"}""".stripMargin
    // an id-carrying file, read once: its footer class is now cached
    val file = writeIdParquet(Seq(Row(1L, 10.5)), idAmount)
    val idSize = java.nio.file.Files.size(java.nio.file.Paths.get(file))
    assert(IcebergImport.read(spark, writeForeign(Seq(file), fields))
      .as[(Long, Double)].collect().toSeq == Seq((1L, 10.5)))
    // the same path re-written with an id-less file, as when a table is
    // dropped and re-created in place; its manifest records the new size
    val dir0 = java.nio.file.Files.createTempDirectory("graft-ice-noid").toString
    Seq((2L, 20.5)).toDF("id", "amount").coalesce(1).write.mode("overwrite").parquet(dir0)
    val plain = new java.io.File(dir0).listFiles().filter(_.getName.endsWith(".parquet")).head
    val target = java.nio.file.Paths.get(file)
    java.nio.file.Files.copy(plain.toPath, target, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    java.nio.file.Files.deleteIfExists(target.resolveSibling(s".${target.getFileName}.crc"))
    assert(java.nio.file.Files.size(target) != idSize)
    assert(IcebergImport.read(spark, writeForeign(Seq(file), fields))
      .as[(Long, Double)].collect().toSeq == Seq((2L, 20.5)))
  }
}
