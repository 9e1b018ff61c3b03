package graft.io

import graft.{JobCount, SparkSpec}

/** The manifest seam ([[SnapshotManifests]]): the whole-chain metadata
  * answers, the Spark jobs manifest writes and pruned reads start, and
  * Bloom probes over a chain whose segments hold the column in
  * different types. */
class SnapshotManifestsSpec extends SparkSpec {
  import spark.implicits._

  private def newTables() =
    new SnapshotTables(spark, java.nio.file.Files.createTempDirectory("graft-manifests").toString)

  private def clearManifestCache(): Unit =
    SnapshotTables.manifestCache.synchronized(SnapshotTables.manifestCache.clear())

  test("manifestAgg answers for the whole append chain, like fastCount and a plain read") {
    val t = newTables()
    t.overwriteTable(spark.range(0, 100).toDF("id"), "tab", Nil, statsCols = Seq("id"))
    t.append(spark.range(1000, 1050).toDF("id"), "tab")
    assert(t.fastCount("tab") == 150L && t.read("tab").count() == 150L)
    val agg = t.manifestAgg("tab", Seq("id")).collect()
    assert(agg.length == 1)
    assert((agg.head.getString(0), agg.head.getLong(1), agg.head.getDouble(2), agg.head.getDouble(3),
      agg.head.getLong(4)) == (("id", 150L, 0.0, 1049.0, 0L)))
    val inputs = t.manifestAgg("tab", Seq("id")).inputFiles
    assert(inputs.length == 2 && inputs.forall(_.contains("/metadata/")), inputs.toSeq)
  }

  test("manifestAgg refuses a merge-on-read chain the way manifest() and fastCount do") {
    val t = newTables()
    t.overwriteTable(spark.range(0, 100).toDF("id"), "tab", Nil, statsCols = Seq("id"))
    t.deleteKeysMor("tab", Seq(5L).toDF("id"))
    val agg = intercept[IllegalArgumentException](t.manifestAgg("tab", Seq("id")))
    assert(agg.getMessage.contains("merge-on-read deltas pending"), agg.getMessage)
    assert(intercept[IllegalArgumentException](t.manifest("tab")).getMessage == agg.getMessage)
    intercept[IllegalArgumentException](t.fastCount("tab"))
  }

  test("IN-probes hash under each segment's own column type: an INT table with a BIGINT append") {
    val t = newTables()
    t.overwriteTable(Seq(1, 2, 3).toDF("k"), "w", Nil, statsCols = Nil, sketchCols = Seq("k"))
    t.append(Seq(1000L, 1001L).toDF("k"), "w")
    assert(t.read("w").schema("k").dataType == org.apache.spark.sql.types.LongType)
    for (probe <- Seq(2L, 1001L)) {
      val got = t.readPrunedIn("w", "k", Seq(probe)).where($"k" === probe).count()
      assert(got == 1L, s"probe $probe lost its row")
    }
    // a probe in neither segment's sketch skips both
    assert(t.readPrunedIn("w", "k", Seq(777L)).inputFiles.isEmpty)
  }

  test("a hidden-partitioned table keeps a stats manifest: a pruned read skips files") {
    val t = newTables()
    val df = spark.range(0, 4000).toDF("id").withColumn("k", $"id" / 500 cast "long")
      .repartitionByRange(8, $"id").sortWithinPartitions($"id")
    t.overwriteTableTransformed(df, "tab", Seq(SnapshotTables.PartitionTransform.bucket(8, "k")),
      statsCols = Seq("id"))
    val all = t.read("tab").inputFiles.length
    val pruned = t.readPruned("tab", "id", 0L, 10L)
    assert(pruned.inputFiles.length < all, s"${pruned.inputFiles.length} of $all files opened")
    def got(df: org.apache.spark.sql.DataFrame) =
      df.where($"id".between(0, 10)).select("id", "k").as[(Long, Long)].collect().toSeq.sorted
    assert(got(pruned) == got(t.read("tab")) && got(pruned).length == 11)
  }

  test("pruned readers plan like SQL: one job for a cold manifest, none warm") {
    val t = newTables()
    val df = spark.range(0, 4000).toDF("id").withColumn("name", $"id".cast("string"))
      .repartitionByRange(4, $"id").sortWithinPartitions($"id")
    t.overwriteTable(df, "tab", Nil, statsCols = Seq("id"), sketchCols = Seq("id", "name"))
    clearManifestCache()
    val (box, boxCold) = JobCount(spark)(t.readPrunedBox("tab", Seq(("id", 10L, 20L))))
    val (_, boxWarm) = JobCount(spark)(t.readPrunedBox("tab", Seq(("id", 10L, 20L))))
    assert(boxCold.length <= 1 && boxWarm.isEmpty, (boxCold, boxWarm))
    assert(box.inputFiles.length == 1 && box.where($"id".between(10, 20)).count() == 11)
    clearManifestCache()
    val (in, inCold) = JobCount(spark)(t.readPrunedIn("tab", "name", Seq("3999")))
    val (_, inWarm) = JobCount(spark)(t.readPrunedIn("tab", "name", Seq("3999")))
    assert(inCold.length <= 1 && inWarm.isEmpty, (inCold, inWarm))
    assert(in.inputFiles.length == 1 && in.where($"name" === "3999").count() == 1)
  }

  test("writing a manifest reads footers once and sketches in one data pass") {
    val t = newTables()
    val df = spark.range(0, 5000).toDF("id").withColumn("v", ($"id" % 97).cast("double"))
      .repartition(6).localCheckpoint()
    def jobs(table: String, stats: Seq[String], sketch: Seq[String]): Seq[String] =
      JobCount(spark)(t.overwriteTable(df, table, Nil, statsCols = stats, sketchCols = sketch))._2
    val plain = jobs("plain", Nil, Nil)
    val stats = jobs("stats", Seq("id", "v"), Nil)
    val sketch = jobs("sketch", Seq("id", "v"), Seq("v"))
    // stats: the manifest write; sketches: its shuffle stages (the
    // per-file Bloom aggregation and both sides of the stats join) and
    // the write — no schema inference, no second pass for an emptiness check
    assert(stats.length - plain.length == 1, (plain, stats))
    assert(sketch.length - plain.length == 4, (plain, sketch))
    // the distributed footer path writes the same manifest
    spark.conf.set("graft.manifest.driverFooterBudget", "0")
    try t.overwriteTable(df, "remote", Nil, statsCols = Seq("id", "v"), sketchCols = Seq("v"))
    finally spark.conf.unset("graft.manifest.driverFooterBudget")
    def rows(table: String) = t.manifest(table).drop("file").collect().map(_.toString).sorted.toSeq
    assert(rows("remote") == rows("sketch"))
    assert(t.fastCount("remote") == 5000L)
  }
}
