package graft

import org.apache.spark.sql.functions._

/** Builds the nineteen export fixtures `tools/ice_independent_read.py`
  * verifies (append-only, MOR equality deletes, murmur3 bucket
  * layout, patch position deletes, metadata-only schema evolution,
  * and the foreign-write shapes numbered below) and prints graft's
  * own expected aggregates — the
  * independent-witness harness recorded in SURVEY §7.
  * Run: sbt "Test/runMain graft.DriveIceExport", then
  * `tools/witness_all.sh`, which runs the python tool over
  * /tmp/ind_export_* with the same aggregate SQL and checks every
  * result against these EXPECT lines. */
object DriveIceExport {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local("drive", 8)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    // fresh fixture dirs: a re-run over stale metadata would collide
    // on version files (the append's optimistic concurrency, working
    // as designed — but these are throwaway fixtures)
    Seq("plain", "mor", "bucket", "posdel", "evolved", "appended", "partitioned", "scoped",
        "dml", "branch", "posdml", "merge", "catname", "avrodata", "dv", "adopted", "changes",
        "rowlineage", "dvexport")
      .foreach { n =>
        val p = new org.apache.hadoop.fs.Path(s"/tmp/ind_export_$n")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(p, true)
      }
    // every EXPECT line also lands in /tmp/ind_export_expect.txt, the
    // file tools/witness_all.sh checks the witness against
    val expected = Seq.newBuilder[String]
    def expect(line: String): Unit = { println(s"EXPECT $line"); expected += s"EXPECT $line" }
    val ord = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))

    // 1: append-only
    val r1 = java.nio.file.Files.createTempDirectory("ind-snap1").toString
    val t1 = new graft.io.SnapshotTables(spark, r1)
    t1.overwriteTable(ord.filter(col("o_orderkey") % 2 === 0), "ord")
    t1.append(ord.filter(col("o_orderkey") % 2 =!= 0), "ord")
    graft.io.IcebergExport.export(t1, "ord", "/tmp/ind_export_plain")

    // 2: MOR equality deletes (upsert + key delete)
    val r2 = java.nio.file.Files.createTempDirectory("ind-snap2").toString
    val t2 = new graft.io.SnapshotTables(spark, r2)
    t2.overwriteTable(ord, "ord")
    t2.upsertMor("ord", ord.filter(col("o_orderkey") % 97 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2), Seq("o_orderkey"))
    t2.deleteKeysMor("ord", ord.filter(col("o_orderkey") % 89 === 0).select("o_orderkey"))
    graft.io.IcebergExport.export(t2, "ord", "/tmp/ind_export_mor")

    // 3: m3bucket layout
    val r3 = java.nio.file.Files.createTempDirectory("ind-snap3").toString
    val t3 = new graft.io.SnapshotTables(spark, r3)
    t3.overwriteTableTransformed(ord, "ord",
      Seq(graft.io.SnapshotTables.PartitionTransform.bucketMurmur3(8, "o_custkey")))
    graft.io.IcebergExport.export(t3, "ord", "/tmp/ind_export_bucket")

    // 4: content-addressed patch -> position deletes
    val r4 = java.nio.file.Files.createTempDirectory("ind-snap4").toString
    val t4 = new graft.io.SnapshotTables(spark, r4)
    t4.overwriteTable(ord, "ord")
    t4.deleteWhereMor("ord", col("o_totalprice") > lit(200000.0))
    graft.io.IcebergExport.export(t4, "ord", "/tmp/ind_export_posdel")

    // 5: schema evolution — metadata-only rename + added column over
    // id-less exported files (name-mapping projection on the reader)
    val r5 = java.nio.file.Files.createTempDirectory("ind-snap5").toString
    val t5 = new graft.io.SnapshotTables(spark, r5)
    t5.overwriteTable(ord, "ord")
    graft.io.IcebergExport.export(t5, "ord", "/tmp/ind_export_evolved")
    graft.io.IcebergEvolve.renameColumn(spark, "/tmp/ind_export_evolved", "o_totalprice", "price")
    graft.io.IcebergEvolve.addColumn(spark, "/tmp/ind_export_evolved", "note", "string")

    Seq("plain" -> t1, "mor" -> t2, "bucket" -> t3, "posdel" -> t4).foreach { case (n, t) =>
      val r = t.read("ord").agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(18,2)")).cast("string")).collect()(0)
      expect(s"$n count=${r.getLong(0)} sum=${r.getString(1)}")
    }
    val r5r = graft.io.IcebergImport.read(spark, "/tmp/ind_export_evolved")
      .agg(count(lit(1)), sum(col("price").cast("decimal(18,2)")).cast("string"),
        count(col("note"))).collect()(0)
    expect(s"evolved count=${r5r.getLong(0)} sum=${r5r.getString(1)} notes=${r5r.getLong(2)}")

    // 6: foreign append — half the rows land via IcebergAppend's
    // spec-shaped snapshot commit (id-carrying footers, inherited
    // sequences) on top of an exported half
    val r6 = java.nio.file.Files.createTempDirectory("ind-snap6").toString
    val t6 = new graft.io.SnapshotTables(spark, r6)
    t6.overwriteTable(ord.filter(col("o_orderkey") % 2 === 0), "ord")
    graft.io.IcebergExport.export(t6, "ord", "/tmp/ind_export_appended")
    graft.io.IcebergAppend.append(spark, "/tmp/ind_export_appended",
      ord.filter(col("o_orderkey") % 2 =!= 0))
    val r6r = graft.io.IcebergImport.read(spark, "/tmp/ind_export_appended")
      .agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(18,2)")).cast("string")).collect()(0)
    expect(s"appended count=${r6r.getLong(0)} sum=${r6r.getString(1)}")

    // 7: identity-PARTITIONED foreign append (the reference's flagship
    // PARTITIONED BY shape) — the witness must apply the spec's
    // identity-projection rule: the partition column lives only in
    // partition metadata, both for the exported and the appended files
    val r7 = java.nio.file.Files.createTempDirectory("ind-snap7").toString
    val t7 = new graft.io.SnapshotTables(spark, r7)
    t7.overwriteTable(ord.filter(col("o_orderkey") % 2 === 0), "ord",
      partitionCols = Seq("o_orderstatus"))
    graft.io.IcebergExport.export(t7, "ord", "/tmp/ind_export_partitioned")
    graft.io.IcebergAppend.append(spark, "/tmp/ind_export_partitioned",
      ord.filter(col("o_orderkey") % 2 =!= 0))
    val r7r = graft.io.IcebergImport.read(spark, "/tmp/ind_export_partitioned")
      .agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(18,2)")).cast("string"),
        count(when(col("o_orderstatus") === "O", 1))).collect()(0)
    expect(s"partitioned count=${r7r.getLong(0)} sum=${r7r.getString(1)} o=${r7r.getLong(2)}")

    // 8: identity-SCOPED equality delete — applies only within its
    // partition; the witness must express the scope, not over-delete
    val r8 = java.nio.file.Files.createTempDirectory("ind-snap8").toString
    val t8 = new graft.io.SnapshotTables(spark, r8)
    t8.overwriteTable(ord, "ord", partitionCols = Seq("o_orderstatus"))
    graft.io.IcebergExport.export(t8, "ord", "/tmp/ind_export_scoped")
    val delDir = java.nio.file.Files.createTempDirectory("ind-scope-del").toString
    ord.filter(col("o_custkey") % 10 === 0).select("o_custkey").distinct()
      .coalesce(1).write.mode("overwrite").parquet(delDir)
    val delFile = new java.io.File(delDir).listFiles()
      .find(_.getName.endsWith(".parquet")).get.getAbsolutePath
    graft.io.IcebergTestSplice.addDeleteSnapshot("/tmp/ind_export_scoped",
      Seq(graft.io.IcebergTestSplice.Del(delFile, content = 2, seq = 100,
        eqIds = Seq(2), partVals = Seq("o_orderstatus" -> "O"))),
      specId = 0, partFields = Seq(("o_orderstatus", "string")))
    val r8r = graft.io.IcebergImport.read(spark, "/tmp/ind_export_scoped")
      .agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(18,2)")).cast("string"),
        count(when(col("o_orderstatus") === "O", 1))).collect()(0)
    expect(s"scoped count=${r8r.getLong(0)} sum=${r8r.getString(1)} o=${r8r.getLong(2)}")

    // 9: row-level DML through IcebergDml — a full-column equality
    // DELETE snapshot plus an UPDATE (pre-image equality delete +
    // post-image data manifest in one overwrite snapshot); the witness
    // must apply multi-column equality deletes with the strictly-
    // earlier sequence gate, so the updated rows survive their own
    // delete
    val r9 = java.nio.file.Files.createTempDirectory("ind-snap9").toString
    val t9 = new graft.io.SnapshotTables(spark, r9)
    t9.overwriteTable(ord, "ord")
    graft.io.IcebergExport.export(t9, "ord", "/tmp/ind_export_dml")
    graft.io.IcebergDml.deleteWhere(spark, "/tmp/ind_export_dml", "o_orderkey % 7 = 0")
    graft.io.IcebergDml.update(spark, "/tmp/ind_export_dml", "o_orderkey % 5 = 0",
      Map("o_totalprice" -> "0.5"))
    val r9r = graft.io.IcebergImport.read(spark, "/tmp/ind_export_dml")
      .agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(18,2)")).cast("string")).collect()(0)
    expect(s"dml count=${r9r.getLong(0)} sum=${r9r.getString(1)}")

    // 10: write-audit-publish — branch fork, append + delete ON the
    // branch, fast-forward; the witness reads the published head
    val r10 = java.nio.file.Files.createTempDirectory("ind-snap10").toString
    val t10 = new graft.io.SnapshotTables(spark, r10)
    t10.overwriteTable(ord.filter(col("o_orderkey") % 2 === 0), "ord")
    graft.io.IcebergExport.export(t10, "ord", "/tmp/ind_export_branch")
    graft.io.IcebergEvolve.createBranch(spark, "/tmp/ind_export_branch", "load")
    graft.io.IcebergAppend.append(spark, "/tmp/ind_export_branch",
      ord.filter(col("o_orderkey") % 2 =!= 0), branch = "load")
    graft.io.IcebergDml.deleteWhere(spark, "/tmp/ind_export_branch",
      "o_totalprice > 200000.0", branch = "load")
    graft.io.IcebergEvolve.fastForward(spark, "/tmp/ind_export_branch", "load")
    val r10r = graft.io.IcebergImport.read(spark, "/tmp/ind_export_branch")
      .agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(18,2)")).cast("string")).collect()(0)
    expect(s"branch count=${r10r.getLong(0)} sum=${r10r.getString(1)}")

    // 11: DML-written POSITION deletes (strategy="position") stacked
    // under an equality delete — the witness must apply both shapes
    // with their respective sequence gates
    val r11 = java.nio.file.Files.createTempDirectory("ind-snap11").toString
    val t11 = new graft.io.SnapshotTables(spark, r11)
    t11.overwriteTable(ord, "ord")
    graft.io.IcebergExport.export(t11, "ord", "/tmp/ind_export_posdml")
    graft.io.IcebergDml.deleteWhere(spark, "/tmp/ind_export_posdml", "o_orderkey % 7 = 0")
    graft.io.IcebergDml.deleteWhere(spark, "/tmp/ind_export_posdml",
      "o_totalprice > 200000.0", strategy = "position")
    val r11r = graft.io.IcebergImport.read(spark, "/tmp/ind_export_posdml")
      .agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(18,2)")).cast("string")).collect()(0)
    expect(s"posdml count=${r11r.getLong(0)} sum=${r11r.getString(1)}")

    // 12: MERGE/upsert (X132's one-snapshot shape — equality delete on
    // the source keys + the source as a data manifest in ONE overwrite
    // snapshot); the witness's strictly-earlier gating must keep the
    // upserted rows safe from their own delete
    val r12 = java.nio.file.Files.createTempDirectory("ind-snap12").toString
    val t12 = new graft.io.SnapshotTables(spark, r12)
    t12.overwriteTable(ord.filter(col("o_orderkey") % 2 === 0), "ord")
    graft.io.IcebergExport.export(t12, "ord", "/tmp/ind_export_merge")
    graft.io.IcebergDml.upsert(spark, "/tmp/ind_export_merge",
      ord.filter(col("o_orderkey") % 10 === 0).withColumn("o_totalprice", lit(1.25))
        .unionByName(ord.filter(col("o_orderkey") % 2 =!= 0)),
      Seq("o_orderkey"))
    val r12r = graft.io.IcebergImport.read(spark, "/tmp/ind_export_merge")
      .agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(18,2)")).cast("string")).collect()(0)
    expect(s"merge count=${r12r.getLong(0)} sum=${r12r.getString(1)}")

    // 13: CATALOG-CONVENTION metadata names (<NNNNN>-<uuid>.metadata
    // .json, NO version-hint — REST/Hive-catalog layouts; read-only on
    // the graft side, and the witness must resolve the head the same
    // way the importer does)
    val r13 = java.nio.file.Files.createTempDirectory("ind-snap13").toString
    val t13 = new graft.io.SnapshotTables(spark, r13)
    t13.overwriteTable(ord, "ord")
    graft.io.IcebergExport.export(t13, "ord", "/tmp/ind_export_catname")
    graft.io.IcebergDml.deleteWhere(spark, "/tmp/ind_export_catname", "o_orderkey % 7 = 0")
    locally {
      val metaDir = new org.apache.hadoop.fs.Path("/tmp/ind_export_catname/metadata")
      val fs = metaDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(metaDir).map(_.getPath).foreach { p =>
        if (p.getName.matches("v\\d+\\.metadata\\.json")) {
          val v = p.getName.stripPrefix("v").stripSuffix(".metadata.json").toInt
          fs.rename(p, new org.apache.hadoop.fs.Path(metaDir,
            f"$v%05d-11111111-2222-3333-4444-555555555555.metadata.json"))
        }
      }
      fs.delete(new org.apache.hadoop.fs.Path(metaDir, "version-hint.text"), false)
    }
    val r13r = graft.io.IcebergImport.read(spark, "/tmp/ind_export_catname")
      .agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(18,2)")).cast("string")).collect()(0)
    expect(s"catname count=${r13r.getLong(0)} sum=${r13r.getString(1)}")

    // 14: AVRO DATA FILES (X135 — spec file_format=AVRO, adopted by
    // reference via addFiles) mixed with parquet, plus an equality
    // delete hitting both formats; the witness decodes the avro
    // container with its own from-scratch reader
    val r14 = java.nio.file.Files.createTempDirectory("ind-snap14").toString
    val t14 = new graft.io.SnapshotTables(spark, r14)
    t14.overwriteTable(ord.filter(col("o_orderkey") % 2 === 0), "ord")
    graft.io.IcebergExport.export(t14, "ord", "/tmp/ind_export_avrodata")
    val avroPath = java.nio.file.Files.createTempDirectory("ind-avro14").toString + "/odds.avro"
    graft.io.IcebergAvroData.writeDataFile(spark, ord.filter(col("o_orderkey") % 2 =!= 0),
      avroPath, Map("o_orderkey" -> 1, "o_custkey" -> 2, "o_orderstatus" -> 3,
        "o_totalprice" -> 4))
    graft.io.IcebergAppend.addFiles(spark, "/tmp/ind_export_avrodata", Seq(avroPath),
      format = "AVRO")
    graft.io.IcebergDml.deleteWhere(spark, "/tmp/ind_export_avrodata", "o_orderkey % 7 = 0")
    val r14r = graft.io.IcebergImport.read(spark, "/tmp/ind_export_avrodata")
      .agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(18,2)")).cast("string")).collect()(0)
    expect(s"avrodata count=${r14r.getLong(0)} sum=${r14r.getString(1)}")

    // 15: FORMAT-VERSION 3 + DELETION VECTORS (X140/X143): a v2 export
    // upgraded to v3, the %3 keys deleted by DV (Puffin/roaring64
    // written in executor tasks), a LATER append whose rows the older
    // DV must not touch (sequence gating), a second DV across both
    // vintages — OVERLAPPING the first's files, so prior DVs union
    // into the new blobs and the superseded entries rewrite to
    // status=2 (the v3 one-DV-per-file invariant) — and a v3 UPDATE
    // (DV pre-images + post-image manifest in one overwrite snapshot).
    // The witness decodes the Puffin blobs with its own from-scratch
    // reader and must skip superseded entries by status.
    val r15 = java.nio.file.Files.createTempDirectory("ind-snap15").toString
    val t15 = new graft.io.SnapshotTables(spark, r15)
    t15.overwriteTable(ord.filter(col("o_orderkey") % 2 === 0), "ord")
    graft.io.IcebergExport.export(t15, "ord", "/tmp/ind_export_dv")
    graft.io.PuffinDeletionVectors.upgradeToV3(spark, "/tmp/ind_export_dv")
    graft.io.PuffinDeletionVectors.writeDVDelete(spark, "/tmp/ind_export_dv",
      "o_orderkey % 3 = 0")
    graft.io.IcebergAppend.append(spark, "/tmp/ind_export_dv",
      ord.filter(col("o_orderkey") % 2 =!= 0))
    graft.io.PuffinDeletionVectors.writeDVDelete(spark, "/tmp/ind_export_dv",
      "o_orderkey % 5 = 0")
    graft.io.IcebergDml.update(spark, "/tmp/ind_export_dv", "o_orderkey % 7 = 0",
      Map("o_totalprice" -> "o_totalprice + 1000"))
    val r15r = graft.io.IcebergImport.read(spark, "/tmp/ind_export_dv")
      .agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(18,2)")).cast("string")).collect()(0)
    expect(s"dv count=${r15r.getLong(0)} sum=${r15r.getString(1)}")

    // 16: PARTITIONED ADOPTION (X141): a date-partitioned table plus a
    // Hive-layout parquet tree adopted BY REFERENCE, partition tuples
    // derived from paths — the witness must project the identity
    // partition values from the manifests' partition structs (the
    // adopted files do not carry the column)
    val r16 = java.nio.file.Files.createTempDirectory("ind-snap16").toString
    val t16 = new graft.io.SnapshotTables(spark, r16)
    val stamped = ord.withColumn("sys_file_date",
      when(col("o_orderkey") % 3 === 0, "2026-01-01")
        .when(col("o_orderkey") % 3 === 1, "2026-01-02")
        .otherwise("2026-01-03").cast("date"))
    t16.overwriteTable(stamped.filter(col("o_orderkey") % 2 === 0), "ord",
      partitionCols = Seq("sys_file_date"))
    graft.io.IcebergExport.export(t16, "ord", "/tmp/ind_export_adopted")
    val landing16 = java.nio.file.Files.createTempDirectory("ind-land16").toString + "/bronze"
    stamped.filter(col("o_orderkey") % 2 =!= 0)
      .repartition(col("sys_file_date"))
      .write.partitionBy("sys_file_date").parquet(landing16)
    val fs16 = new org.apache.hadoop.fs.Path(landing16)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files16 = {
      val it = fs16.listFiles(new org.apache.hadoop.fs.Path(landing16), true)
      val b = Seq.newBuilder[String]
      while (it.hasNext) {
        val st0 = it.next()
        if (st0.getPath.getName.endsWith(".parquet")) b += st0.getPath.toString
      }
      b.result().sorted
    }
    graft.io.IcebergAppend.addFiles(spark, "/tmp/ind_export_adopted", files16)
    val r16r = graft.io.IcebergImport.read(spark, "/tmp/ind_export_adopted")
      .agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(18,2)")).cast("string"),
        countDistinct(col("sys_file_date"))).collect()(0)
    expect(s"adopted count=${r16r.getLong(0)} sum=${r16r.getString(1)} d=${r16r.getLong(2)}")

    // 17: CHANGELOG RANGE (X138 witness — the r18 verdict's #6: the
    // q171 oracle replays per-snapshot diffs in DuckDB, but the
    // independent witness could not snapshot-pin reads, so changelog
    // semantics had no second-language verifier): a q171-shaped
    // append → MOR equality DELETE → append → MOR position DELETE
    // chain; graft's manifest-diff changelog vs the witness's pinned
    // state-diff replay must agree per change type, byte-identically
    val r17 = java.nio.file.Files.createTempDirectory("ind-snap17").toString
    val t17 = new graft.io.SnapshotTables(spark, r17)
    t17.overwriteTable(ord.filter(col("o_orderkey") % 2 === 0), "ord")
    graft.io.IcebergExport.export(t17, "ord", "/tmp/ind_export_changes")      // snap 1
    graft.io.IcebergAppend.append(spark, "/tmp/ind_export_changes",
      ord.filter(col("o_orderkey") % 4 === 1))                                // snap 2
    graft.io.IcebergDml.deleteWhere(spark, "/tmp/ind_export_changes",
      "o_orderkey % 3 = 0")                                                   // snap 3 (MOR eq)
    graft.io.IcebergAppend.append(spark, "/tmp/ind_export_changes",
      ord.filter(col("o_orderkey") % 4 === 3))                                // snap 4
    graft.io.IcebergDml.deleteWhere(spark, "/tmp/ind_export_changes",
      "o_orderkey % 5 = 0", strategy = "position")                            // snap 5 (MOR pos)
    val r17r = graft.io.IcebergChanges.changesBetween(spark, "/tmp/ind_export_changes", Some(1L))
      .groupBy(col("_change_type"))
      .agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(18,2)")).cast("string"))
      .orderBy(col("_change_type"))
      .collect().toSeq
    r17r.foreach(r =>
      expect(s"changes type=${r.getString(0)} count=${r.getLong(1)} sum=${r.getString(2)}"))

    // 18: V3 ROW LINEAGE (r20 — X146): v2 export (NO lineage) →
    // upgrade → two deterministic sorted single-file appends (ids
    // assigned from next-row-id via the manifest-list first_row_id,
    // spec id 520) → a DV delete (survivors KEEP their ids). The
    // witness re-derives every id from the metadata itself —
    // first_row_id + DuckDB's file_row_number — and must agree on the
    // per-sequence id sums, byte-for-value.
    val r18 = java.nio.file.Files.createTempDirectory("ind-snap18").toString
    val t18 = new graft.io.SnapshotTables(spark, r18)
    t18.overwriteTable(ord.filter(col("o_orderkey") % 2 === 0), "ord")
    graft.io.IcebergExport.export(t18, "ord", "/tmp/ind_export_rowlineage")
    graft.io.PuffinDeletionVectors.upgradeToV3(spark, "/tmp/ind_export_rowlineage")
    def sortedBatch18(cond: org.apache.spark.sql.Column) =
      ord.filter(cond).repartition(1).sortWithinPartitions("o_orderkey")
    graft.io.IcebergAppend.append(spark, "/tmp/ind_export_rowlineage",
      sortedBatch18(col("o_orderkey") % 4 === 1))
    graft.io.IcebergAppend.append(spark, "/tmp/ind_export_rowlineage",
      sortedBatch18(col("o_orderkey") % 4 === 3))
    graft.io.PuffinDeletionVectors.writeDVDelete(spark, "/tmp/ind_export_rowlineage",
      "o_orderkey % 5 = 0")
    val r18r = graft.io.IcebergImport.readWithRowLineage(spark, "/tmp/ind_export_rowlineage")
      .groupBy(coalesce(col("_last_updated_sequence_number"), lit(0L)).as("seq"))
      .agg(count(lit(1)), sum("_row_id"), min("_row_id"), max("_row_id"))
      .orderBy("seq").collect().toSeq
    r18r.foreach(r =>
      expect(s"rowlineage seq=${r.getLong(0)} count=${r.getLong(1)} " +
        s"sum=${if (r.isNullAt(2)) "None" else r.getLong(2)} " +
        s"min=${if (r.isNullAt(3)) "None" else r.getLong(3)} " +
        s"max=${if (r.isNullAt(4)) "None" else r.getLong(4)}"))

    // 19: V3-NATIVE EXPORT (r20 — X147): the fixture-2 MOR chain
    // (upsert + key delete) exported with formatVersion=3 — every
    // delete a graft-exported Puffin DV, row lineage over the whole
    // history. The witness must resolve the chain through ITS OWN
    // Puffin/roaring64 decoding of blobs graft itself exported.
    val r19 = java.nio.file.Files.createTempDirectory("ind-snap19").toString
    val t19 = new graft.io.SnapshotTables(spark, r19)
    t19.overwriteTable(ord, "ord")
    t19.upsertMor("ord",
      ord.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2),
      Seq("o_orderkey"))
    t19.deleteKeysMor("ord",
      ord.filter(col("o_orderkey") % 89 === 0).select("o_orderkey"))
    graft.io.IcebergExport.export(t19, "ord", "/tmp/ind_export_dvexport", formatVersion = 3)
    val r19r = graft.io.IcebergImport.read(spark, "/tmp/ind_export_dvexport")
      .agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(18,2)")).cast("string")).collect()(0)
    expect(s"dvexport count=${r19r.getLong(0)} sum=${r19r.getString(1)}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get("/tmp/ind_export_expect.txt"),
      expected.result().mkString("", "\n", "\n"))
    spark.stop()
  }
}
