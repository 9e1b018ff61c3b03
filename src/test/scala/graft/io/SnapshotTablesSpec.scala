package graft.io

import graft.SparkSpec

class SnapshotTablesSpec extends SparkSpec {
  import spark.implicits._

  private def newTables(retention: Int = 10) = {
    val root = java.nio.file.Files.createTempDirectory("graft-snap").toString
    new SnapshotTables(spark, root, previousVersionsMax = retention)
  }

  /** Version `v`'s data dir, resolved through its meta. */
  private def versionDir(t: SnapshotTables, table: String, v: Int): java.io.File =
    new java.io.File(new org.apache.hadoop.fs.Path(t.snapshotDirString(table, v)).toUri.getPath)

  /** The commit dirs in `table`'s write-once pool. */
  private def poolDirs(root: String, table: String): Seq[String] =
    Option(new java.io.File(s"$root/$table/data").listFiles()).toSeq.flatten
      .filter(_.isDirectory).map(_.getName).sorted

  test("overwrite commits versions; read resolves the current pointer") {
    val t = newTables()
    t.overwriteTable(Seq((1, "a")).toDF("id", "v"), "tab")
    t.overwriteTable(Seq((2, "b"), (3, "c")).toDF("id", "v"), "tab")
    assert(t.currentVersion("tab") == 2)
    assert(t.read("tab").count() == 2)
    assert(t.read("tab").as[(Int, String)].collect().toSet == Set((2, "b"), (3, "c")))
  }

  test("table-property writes leave no temp file or checksum sidecar in metadata/") {
    val root = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val t = new SnapshotTables(spark, root)
    t.overwriteTable(Seq((1L, "a")).toDF("id", "v"), "props")
    t.setStatsCols("props", Seq("id"))
    t.setSketchCols("props", Seq("v"))
    t.setSortOrder("props", Seq("id"))
    val names = new java.io.File(s"$root/props/metadata").list().toSeq
    assert(!names.exists(_.contains(".tmp-")), names)
    assert(t.statsColsFor("props") == Seq("id") && t.sortOrder("props") == Seq("id"))
  }

  test("time travel reads retained predecessors") {
    val t = newTables()
    t.overwriteTable(Seq((1, "a")).toDF("id", "v"), "tab")
    t.overwriteTable(Seq((2, "b")).toDF("id", "v"), "tab")
    assert(t.readVersion("tab", 1).as[(Int, String)].head() == ((1, "a")))
    assert(t.history("tab") == Seq(1, 2))
  }

  test("merge upserts by key as a new version; prior version still time-travels") {
    val t = newTables()
    t.overwriteTable(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"), "tab")
    t.merge("tab", Seq((2, "B2"), (4, "d")).toDF("id", "v"), keyCols = Seq("id"))
    assert(t.currentVersion("tab") == 2)
    assert(t.read("tab").as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "B2"), (3, "c"), (4, "d"))) // 2 updated, 4 inserted, 1/3 untouched
    assert(t.readVersion("tab", 1).as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "b"), (3, "c")))
    // merge into an empty table = insert all
    t.merge("tab2", Seq((9, "z")).toDF("id", "v"), keyCols = Seq("id"))
    assert(t.read("tab2").as[(Int, String)].head() == ((9, "z")))
  }

  test("merge with schema evolution adds source columns, null-fills missing ones; types never coerce") {
    val t = newTables()
    t.overwriteTable(Seq((1, "a"), (2, "b")).toDF("id", "v"), "tab")
    // source carries a NEW column: table schema grows, old rows read null
    t.merge("tab", Seq((2, "B2", 0.9), (3, "c", 0.5)).toDF("id", "v", "score"),
      keyCols = Seq("id"), partitionCols = Nil, evolveSchema = true)
    val out = t.read("tab").select($"id", $"v", $"score").collect()
      .map(r => (r.getInt(0), r.getString(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(out == Set((1, "a", None), (2, "B2", Some(0.9)), (3, "c", Some(0.5))))
    // source MISSING a table column: incoming rows null-fill it
    t.merge("tab", Seq((4, "d")).toDF("id", "v"),
      keyCols = Seq("id"), partitionCols = Nil, evolveSchema = true)
    val r4 = t.read("tab").filter($"id" === 4).select($"score").collect().head
    assert(r4.isNullAt(0))
    // prior versions keep their narrower schema (evolution is per-commit)
    assert(!t.readVersion("tab", 1).columns.contains("score"))
    // without evolveSchema, a column mismatch fails as before
    intercept[org.apache.spark.sql.AnalysisException](
      t.merge("tab", Seq((5, "e")).toDF("id", "v"), keyCols = Seq("id")))
    // a same-name TYPE conflict is never silently coerced
    intercept[Exception](
      t.merge("tab", Seq((6, "f", "not-a-double")).toDF("id", "v", "score"),
        keyCols = Seq("id"), partitionCols = Nil, evolveSchema = true))
  }

  test("rollback re-commits an old version as new; bad version stays in history for audit") {
    val t = newTables()
    t.overwriteTable(Seq((1, "good")).toDF("id", "v"), "tab")
    t.overwriteTable(Seq((2, "bad")).toDF("id", "v"), "tab")
    t.rollback("tab", 1)
    assert(t.currentVersion("tab") == 3)
    assert(t.read("tab").as[(Int, String)].head() == ((1, "good")))
    assert(t.readVersion("tab", 2).as[(Int, String)].head() == ((2, "bad"))) // auditably retained
    intercept[IllegalArgumentException](t.rollback("tab", 99))
    // a rolled-back table with stats keeps pruning
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 2000).toDF("id").repartitionByRange(4, $"id").sortWithinPartitions($"id")
    t.overwriteTable(df, "p", Nil, statsCols = Seq("id"))
    t.overwriteTable(df.filter($"id" < 10), "p")
    t.rollback("p", 1)
    val pruned = t.readPruned("p", "id", 100, 200)
    assert(pruned.inputFiles.length < t.read("p").inputFiles.length)
    assert(pruned.filter($"id".between(100, 200)).count() == 101)
  }

  test("delete drops matching rows as a new version") {
    val t = newTables()
    t.overwriteTable(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"), "tab")
    t.delete("tab", $"id" === 2)
    assert(t.currentVersion("tab") == 2)
    assert(t.read("tab").as[(Int, String)].collect().toSet == Set((1, "a"), (3, "c")))
    assert(t.readVersion("tab", 1).count() == 3) // purge is an auditable commit
  }

  test("retention expires snapshots beyond previousVersionsMax") {
    val t = newTables(retention = 2)
    (1 to 5).foreach(i => t.overwriteTable(Seq((i, s"v$i")).toDF("id", "v"), "tab"))
    // keep current (5) + 2 predecessors: 3, 4
    assert(t.history("tab") == Seq(3, 4, 5))
    assert(t.readVersion("tab", 3).count() == 1)
  }

  test("overwritePartitions replaces only incoming partitions, as a new full version") {
    val t = newTables()
    val day1 = Seq(("2024-01-01", 1L), ("2024-01-02", 2L)).toDF("d", "n")
    t.overwriteTable(day1, "tab", Seq("d"))
    val day2fix = Seq(("2024-01-02", 20L)).toDF("d", "n")
    t.overwritePartitions(day2fix, "tab", Seq("d"))
    assert(t.read("tab").select("d", "n").as[(String, Long)].collect().toSet ==
      Set(("2024-01-01", 1L), ("2024-01-02", 20L)))
    assert(t.currentVersion("tab") == 2) // full new version committed
  }

  test("compact rewrites the current snapshot into fewer files as a new version") {
    val t = newTables()
    // 32 shuffle partitions -> many small files in v1
    t.overwriteTable(spark.range(0, 10000).toDF("id").repartition(16), "tab")
    val before = t.read("tab").inputFiles.length
    t.compact("tab")
    assert(t.currentVersion("tab") == 2)
    assert(t.read("tab").inputFiles.length < before)
    assert(t.read("tab").count() == 10000)
    // prior version untouched
    assert(t.readVersion("tab", 1).count() == 10000)
  }

  test("partitioned snapshots prune on the partition column") {
    val t = newTables()
    t.overwriteTable(
      Seq(("2024-01-01", 1L), ("2024-01-02", 2L)).toDF("d", "n"), "tab", Seq("d"))
    val plan = t.read("tab").filter($"d" === "2024-01-02")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("2024-01-02"))
  }

  test("version race: the losing writer fails cleanly and history stays consistent") {
    val root = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val t = new SnapshotTables(spark, root)
    t.overwriteTable(Seq((1, "a")).toDF("id", "v"), "tab")
    // Simulate writer B mid-commit of v2, a writer of the layout before
    // the pool (data in `snapshots/v00002`, named by no `data_dir`): it
    // has won the metadata CAS (exclusive create) but not yet placed
    // its data or advanced the pointer.
    val meta2 = java.nio.file.Paths.get(root, "tab", "metadata", "v00002.json")
    java.nio.file.Files.write(meta2, """{"version":2}""".getBytes("UTF-8"))
    // Writer A now attempts its own v2 commit and must lose the CAS.
    intercept[SnapshotTables.ConcurrentCommitException] {
      t.overwriteTable(Seq((9, "z")).toDF("id", "v"), "tab")
    }
    // The loser left no debris: its pool dir is gone, table unchanged.
    assert(poolDirs(root, "tab") == Seq(versionDir(t, "tab", 1).getName))
    assert(t.currentVersion("tab") == 1)
    assert(t.read("tab").as[(Int, String)].collect().toSet == Set((1, "a")))
    // B's commit completes (pointer flip is the last step) -> A's retry
    // lands cleanly on top as v3.
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "tab", "snapshots"))
    Seq((2, "b")).toDF("id", "v").write.parquet(s"$root/tab/snapshots/v00002")
    // raw write bypasses Hadoop's checksum layer: drop the stale sidecar
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(root, "tab", "metadata", ".current.crc"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "tab", "metadata", "current"), "2".getBytes("UTF-8"))
    t.overwriteTable(Seq((3, "c")).toDF("id", "v"), "tab")
    assert(t.currentVersion("tab") == 3)
    assert(t.history("tab") == Seq(1, 2, 3))
    assert(t.readVersion("tab", 2).as[(Int, String)].head() == ((2, "b")))
  }

  test("stats manifest prunes files for range predicates; results equal the full scan") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val t = new SnapshotTables(spark, root)
    // clustered layout so per-file id ranges are disjoint; name column
    // exercises the string-stats path
    val df = spark.range(0, 8000).toDF("id")
      .withColumn("name", concat(lit("u"), lpad($"id".cast("string"), 6, "0")))
      .repartitionByRange(8, $"id").sortWithinPartitions($"id")
    t.overwriteTable(df, "tab", Nil, statsCols = Seq("id", "name"))
    val full = t.read("tab")
    assert(full.count() == 8000 && full.inputFiles.length == 8)
    // numeric range hits ~1-3 of 8 files (repartitionByRange SAMPLES
    // its split points, so the probe range can straddle one extra file
    // boundary run-to-run — <=3 is the flake-proof bound that still
    // proves multi-file skipping)
    val pruned = t.readPruned("tab", "id", 1000, 1400)
    assert(pruned.inputFiles.length <= 3, s"expected <=3 files, got ${pruned.inputFiles.length}")
    assert(pruned.filter($"id".between(1000, 1400)).count() ==
      full.filter($"id".between(1000, 1400)).count())
    // string range prunes too (name order follows id by construction)
    val prunedS = t.readPruned("tab", "name", "u001000", "u001400")
    assert(prunedS.inputFiles.length <= 3)
    assert(prunedS.filter($"name".between("u001000", "u001400")).count() == 401)
    // a column with no manifest rows keeps every file (conservative)
    assert(t.readPruned("tab", "absent", 0, 1).inputFiles.length == 8)
    // a commit without statsCols has no manifest: full-scan fallback
    t.overwriteTable(df, "plain")
    assert(t.readPruned("plain", "id", 0, 1).inputFiles.length ==
      t.read("plain").inputFiles.length)
    // partitioned layout: pruned read keeps the partition column
    val pdf = df.withColumn("bucket", ($"id" % 4).cast("int"))
    t.overwriteTable(pdf, "ptab", Seq("bucket"), statsCols = Seq("id"))
    val pp = t.readPruned("ptab", "id", 100, 200)
    assert(pp.columns.contains("bucket"))
    assert(pp.filter($"id".between(100, 200)).count() == 101)
    assert(pp.inputFiles.length < t.read("ptab").inputFiles.length)
    // statsCols is a table property: a later DML commit (delete routes
    // through the plain overwrite path) still maintains the manifest.
    // Decisive, layout-independent pin: an out-of-range probe prunes to
    // ZERO files only with a manifest (the no-manifest fallback is a
    // full scan) — a file-COUNT comparison is fragile here because the
    // post-DML rewrite can bin-pack into as few files as the pruned set.
    t.delete("tab", $"id" >= 4000)
    val afterDml = t.readPruned("tab", "id", 1000, 1400)
    assert(afterDml.filter($"id".between(1000, 1400)).count() == 401)
    assert(t.readPruned("tab", "id", -100, -50).inputFiles.isEmpty)
  }

  test("DML with default partitionCols INHERITS the identity layout instead of flattening it") {
    import org.apache.spark.sql.functions._
    val t = newTables()
    val df = spark.range(0, 400).toDF("id").withColumn("region",
      when($"id" % 2 === 0, "eu").otherwise("us"))
    t.overwriteTable(df, "tab", Seq("region"))
    // a delete WITHOUT re-threading partitionCols keeps region=... dirs
    t.delete("tab", $"id" >= 300)
    val snap = versionDir(t, "tab", t.currentVersion("tab"))
    val dirs = snap.listFiles().filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dirs == Seq("region=eu", "region=us"), dirs)
    assert(t.read("tab").count() == 300)
    // and an explicit empty-layout overwrite is still possible via a
    // frame that no longer carries the partition column
    t.overwriteTable(t.read("tab").drop("region"), "tab2")
    assert(t.read("tab2").columns.toSeq == Seq("id"))
  }

  test("hidden partitioning: derived dirs prune, readers never see __p_ columns") {
    import org.apache.spark.sql.functions._
    import SnapshotTables.PartitionTransform
    val root = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val t = new SnapshotTables(spark, root)
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("ts", expr("timestamp_seconds(1704067200 + id * 600)")) // 2024-01-01 onward, ~7 days
      .withColumn("name", concat(lit("user"), lpad($"id".cast("string"), 4, "0")))
    val byDay = PartitionTransform.days("ts")
    t.overwriteTableTransformed(df, "ev", Seq(byDay))
    // the derived column is layout, not data
    assert(!t.read("ev").columns.exists(_.startsWith("__p_")))
    assert(t.read("ev").count() == 1000)
    // a source-column range becomes a partition-DIRECTORY filter (the
    // scan's PartitionFilters — Dataset.inputFiles ignores pruning, so
    // the evidence is the plan plus the pre-row-filter count: only the
    // probed days' rows survive the partition filter)
    def partitionFiltered(df: org.apache.spark.sql.DataFrame, pcol: String): Boolean = {
      df.count()
      val plan = df.queryExecution.executedPlan.toString
      "PartitionFilters: \\[[^\\]]*__p_".r.findFirstIn(plan).isDefined && plan.contains(pcol)
    }
    val ranged = t.readPartitionRange("ev", byDay, "2024-01-02 00:00:00", "2024-01-03 23:59:59")
    assert(partitionFiltered(ranged, "__p_days_ts"))
    val dayRows = ranged.count()
    assert(dayRows < 1000 && dayRows == 288, s"whole-day granularity expected, got $dayRows") // 2 full days @ 144 rows/day
    val exact = ranged.filter($"ts".between(lit("2024-01-02").cast("timestamp"), lit("2024-01-03 23:59:59").cast("timestamp")))
    assert(exact.count() ==
      df.filter($"ts".between(lit("2024-01-02").cast("timestamp"), lit("2024-01-03 23:59:59").cast("timestamp"))).count())
    // bucket transform: point probes prune to the matching buckets
    val byBucket = PartitionTransform.bucket(8, "id")
    t.overwriteTableTransformed(df, "evb", Seq(byBucket))
    val point = t.readPartitionValues("evb", byBucket, Seq(42L, 999L))
    assert(partitionFiltered(point, "__p_bucket8_id"))
    assert(point.count() < 1000, "only probed buckets' rows may survive the partition filter")
    assert(point.filter($"id".isin(42L, 999L)).count() == 2)
    // truncate transform ranges on string prefixes
    val byPrefix = PartitionTransform.truncate(6, "name")
    t.overwriteTableTransformed(df, "evt", Seq(byPrefix))
    val pre = t.readPartitionRange("evt", byPrefix, "user0100", "user0199")
    assert(partitionFiltered(pre, "__p_trunc6_name"))
    assert(pre.count() == 100) // trunc6 = user01xx partition exactly covers the range
    assert(pre.filter($"name".between("user0100", "user0199")).count() == 100)
    // buckets refuse the ordered-range API instead of mis-pruning
    intercept[IllegalArgumentException](t.readPartitionRange("evb", byBucket, 0L, 10L))
    // the transform spec is a TABLE PROPERTY: a plain DML rewrite
    // (delete routes through the plain overwrite) re-derives the
    // hidden layout instead of silently flattening it
    t.delete("ev", $"id" >= 900)
    val afterDml = t.readPartitionRange("ev", byDay, "2024-01-02 00:00:00", "2024-01-03 23:59:59")
    assert(partitionFiltered(afterDml, "__p_days_ts"))
    assert(afterDml.count() == 288)
    assert(!t.read("ev").columns.exists(_.startsWith("__p_")))
    // merge keeps it too, and the merged rows land in the right day dirs
    t.merge("ev", df.filter($"id" >= 900), keyCols = Seq("id"))
    assert(t.read("ev").count() == 1000)
    val again = t.readPartitionRange("ev", byDay, "2024-01-02 00:00:00", "2024-01-03 23:59:59")
    assert(partitionFiltered(again, "__p_days_ts") && again.count() == 288)
  }

  test("partition-spec evolution: metadata-only, old layouts readable, new commits prune under the new spec") {
    import org.apache.spark.sql.functions._
    import SnapshotTables.PartitionTransform
    val root = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val t = new SnapshotTables(spark, root)
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("ts", expr("timestamp_seconds(1704067200 + id * 600)"))
    def partitionFiltered(d: org.apache.spark.sql.DataFrame, pcol: String): Boolean = {
      d.count()
      val plan = d.queryExecution.executedPlan.toString
      "PartitionFilters: \\[[^\\]]*__p_".r.findFirstIn(plan).isDefined && plan.contains(pcol)
    }
    // v1: UNPARTITIONED full snapshot (flat layout)
    t.overwriteTable(df.filter($"id" < 500), "ev")
    assert(!versionDir(t, "ev", 1).listFiles()
      .exists(_.getName.startsWith("__p_")))
    // evolve to days(ts): METADATA ONLY — no new version committed
    val byDay = PartitionTransform.days("ts")
    t.evolvePartitioning("ev", Seq(byDay))
    assert(t.currentVersion("ev") == 1)
    assert(t.persistedTransforms("ev").map(_.name) == Seq("__p_days_ts"))
    // the NEXT commit (an append delta) lays out under the new spec…
    t.append(df.filter($"id" >= 500), "ev")
    assert(versionDir(t, "ev", 2).listFiles()
      .exists(_.getName.startsWith("__p_days_ts=")))
    // …while v1's flat files are untouched, and reads span both layouts
    assert(t.read("ev").count() == 1000)
    assert(!t.read("ev").columns.exists(_.startsWith("__p_")))
    assert(t.readVersion("ev", 1).count() == 500)
    // a range read is CORRECT across mixed layouts: the new segment
    // prunes directories, the old segment row-filters the re-derived
    // transform value (id>=500 rows start 2024-01-04 11:20 UTC)
    val r = t.readPartitionRange("ev", byDay, "2024-01-04 00:00:00", "2024-01-05 23:59:59")
    val expected = df.filter(to_date($"ts").between("2024-01-04", "2024-01-05")).count()
    assert(r.count() == expected && expected > 0)
    assert(partitionFiltered(r, "__p_days_ts"), "new segment must contribute directory pruning")
    // a full rewrite under the evolved spec restores pruning everywhere
    t.compact("ev") // materializes; plain overwrite re-derives the spec's layout
    assert(versionDir(t, "ev", t.currentVersion("ev"))
      .listFiles().exists(_.getName.startsWith("__p_days_ts=")))
    // evolve AGAIN to bucket(4, id): next commit buckets; old day dirs stay
    t.evolvePartitioning("ev", Seq(PartitionTransform.bucket(4, "id")))
    t.overwriteTable(df, "ev")
    assert(versionDir(t, "ev", t.currentVersion("ev"))
      .listFiles().exists(_.getName.startsWith("__p_bucket4_id=")))
    val probe = t.readPartitionValues("ev", PartitionTransform.bucket(4, "id"), Seq(7L))
    assert(partitionFiltered(probe, "__p_bucket4_id"))
    assert(probe.filter($"id" === 7L).count() == 1)
    // dropping the spec: next commit is flat again
    t.evolvePartitioning("ev", Nil)
    t.overwriteTable(df, "ev")
    assert(!versionDir(t, "ev", t.currentVersion("ev"))
      .listFiles().exists(_.getName.startsWith("__p_")))
    // refusals: unknown source column, duplicate transforms
    intercept[IllegalArgumentException](
      t.evolvePartitioning("ev", Seq(PartitionTransform.days("nope"))))
    intercept[IllegalArgumentException](
      t.evolvePartitioning("ev", Seq(PartitionTransform.days("ts"), PartitionTransform.days("ts"))))
  }

  test("write sort order: commits range-distribute so per-file stats prune; deltas and DML keep it; OPTIMIZE shaping wins") {
    import org.apache.spark.sql.functions._
    val t = newTables()
    // deterministically scrambled input: without a sort order, every
    // file spans ~the whole id domain and nothing can be skipped
    val scrambled = spark.range(0, 20000).toDF("id")
      .withColumn("r", pmod(col("id") * 2654435761L, lit(9973L)))
      .orderBy("r").drop("r").repartition(4).localCheckpoint(true)
    t.overwriteTable(scrambled, "plain", Nil, statsCols = Seq("id"))
    assert(t.readPruned("plain", "id", 0L, 499L).inputFiles.length ==
      t.read("plain").inputFiles.length, "scrambled files must all intersect the probe")
    // same scrambled input with a standing sort order: files carry
    // disjoint runs, the manifest skips (tiny target size so the
    // 160 KB fixture actually spans several files)
    spark.conf.set("graft.write.targetFileBytes", (16L << 10).toString)
    try {
    t.setSortOrder("tidy", Seq("id"))
    t.overwriteTable(scrambled, "tidy", Nil, statsCols = Seq("id"))
    val pruned = t.readPruned("tidy", "id", 0L, 499L)
    assert(pruned.inputFiles.length < t.read("tidy").inputFiles.length)
    assert(pruned.filter(col("id") <= 499L).count() == 500)
    // DML keeps the property (delete routes through the plain overwrite)
    t.delete("tidy", col("id") === 10000L)
    val afterDml = t.readPruned("tidy", "id", 0L, 499L)
    assert(afterDml.inputFiles.length < t.read("tidy").inputFiles.length)
    assert(afterDml.filter(col("id") <= 499L).count() == 500)
    // appends sort too — and a small delta lands in FEW files, not a
    // session-width shatter (byte-sized shuffle width)
    t.append(spark.range(20000, 20100).toDF("id").repartition(3), "tidy")
    val segFiles = versionDir(t, "tidy", t.currentVersion("tidy")).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(segFiles <= 2, s"a 100-row delta must not shatter (got $segFiles files)")
    // OPTIMIZE's explicit shaping is not re-shuffled away by the sort
    // order: z-order on (a, b) still yields box-prunable files
    val two = spark.range(0, 10000).toDF("id")
      .withColumn("a", pmod(col("id") * 48271L, lit(10007L)))
      .withColumn("b", pmod(col("id") * 16807L, lit(10007L)))
      .localCheckpoint(true)
    t.setSortOrder("zt", Seq("id"))
    t.overwriteTable(two, "zt", Nil, statsCols = Seq("id"))
    t.optimize("zt", Seq("a", "b"), targetFileBytes = 16L << 10)
    val box = t.readPrunedBox("zt", Seq(("a", 0L, 500L), ("b", 0L, 500L)))
    assert(box.inputFiles.length < t.read("zt").inputFiles.length,
      "z-order layout must survive on a sort-ordered table")
    // validation: unknown sort column refused
    intercept[IllegalArgumentException](t.setSortOrder("tidy", Seq("nope")))
    } finally spark.conf.unset("graft.write.targetFileBytes")
  }

  test("expireSnapshots: age-based expiry keeps retain_last, current, branch bases and chain ancestors") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val t = new SnapshotTables(spark, root, previousVersionsMax = 100)
    (1 to 5).foreach(i => t.overwriteTable(Seq((i, s"r$i")).toDF("id", "v"), "tab")) // v1..v5
    // simulate age: versions 1-3 committed "an hour ago"
    val old = System.currentTimeMillis - 3600 * 1000L
    (1 to 3).foreach { v =>
      new java.io.File(f"$root/tab/metadata/v$v%05d.json").setLastModified(old)
    }
    // cutoff 30 min ago: v1-v3 too old, v4/v5 fresh
    val cutoff = System.currentTimeMillis - 1800 * 1000L
    assert(t.expireSnapshots("tab", cutoff) == 3)
    assert(t.history("tab") == Seq(4, 5))
    assert(t.readVersion("tab", 4).count() == 1)
    intercept[Exception](t.readVersion("tab", 1).count())
    // retain_last overrides age: with retain_last=4, only the oldest goes
    val t2 = new SnapshotTables(spark, root, previousVersionsMax = 100)
    (1 to 5).foreach(i => t2.overwriteTable(Seq((i, s"r$i")).toDF("id", "v"), "tab2"))
    (1 to 5).foreach(v => new java.io.File(f"$root/tab2/metadata/v$v%05d.json").setLastModified(old))
    assert(t2.expireSnapshots("tab2", cutoff, retainLast = 4) == 1)
    assert(t2.history("tab2") == Seq(2, 3, 4, 5))
    // chain ancestors survive even when too old: v1 full + v2 append,
    // both aged — v2 is within retain_last so its base v1 must stay
    val t3 = new SnapshotTables(spark, root, previousVersionsMax = 100)
    t3.overwriteTable(Seq((1, "a")).toDF("id", "v"), "tab3")
    t3.append(Seq((2, "b")).toDF("id", "v"), "tab3")
    (1 to 2).foreach(v => new java.io.File(f"$root/tab3/metadata/v$v%05d.json").setLastModified(old))
    assert(t3.expireSnapshots("tab3", cutoff) == 0) // v2 = retain_last head, v1 = its chain base
    assert(t3.read("tab3").count() == 2)
    // branch bases survive
    val t4 = new SnapshotTables(spark, root, previousVersionsMax = 100)
    (1 to 3).foreach(i => t4.overwriteTable(Seq((i, s"r$i")).toDF("id", "v"), "tab4"))
    t4.createBranch("tab4", "wip") // forks at v3... fork base = current
    t4.overwriteTable(Seq((9, "z")).toDF("id", "v"), "tab4") // v4
    (1 to 4).foreach(v => new java.io.File(f"$root/tab4/metadata/v$v%05d.json").setLastModified(old))
    t4.expireSnapshots("tab4", System.currentTimeMillis)
    assert(t4.history("tab4").contains(3), "branch fork base must survive age expiry")
    assert(t4.readBranch("tab4", "wip").count() == 1)
  }

  test("OPTIMIZE ZORDER on an identity-partitioned table clusters per partition: dirs, pruning, content") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val t = new SnapshotTables(spark, root)
    val df = spark.range(0, 8000).toDF("id")
      .withColumn("region", (col("id") % 4).cast("string"))
      .withColumn("a", pmod(col("id") * 48271L, lit(10007L)))
      .withColumn("b", pmod(col("id") * 16807L, lit(10007L)))
      .localCheckpoint(true)
    t.overwriteTable(df, "pt", Seq("region"))
    t.optimize("pt", Seq("a", "b"), targetFileBytes = 8L << 10)
    val vdir = versionDir(t, "pt", t.currentVersion("pt"))
    // the Hive layout survives the clustering rewrite…
    assert(vdir.listFiles().exists(_.getName.startsWith("region=")))
    // …and each partition DIRECTORY holds several z-run files (a hash
    // repartition would collapse each into one unskippable file)
    val perDir = vdir.listFiles().filter(_.getName.startsWith("region=")).map(d =>
      d.listFiles().count(_.getName.endsWith(".parquet")))
    assert(perDir.forall(_ >= 2), s"per-dir file counts: ${perDir.mkString(",")}")
    // content identical
    assert(t.read("pt").count() == 8000)
    assert(t.read("pt").agg(sum($"a"), sum($"b")).head() == df.agg(sum($"a"), sum($"b")).head())
    // manifest box pruning skips files; the caller's exact filter agrees
    val box = t.readPrunedBox("pt", Seq(("a", 0L, 1000L), ("b", 0L, 1000L)))
    assert(box.inputFiles.length < t.read("pt").inputFiles.length)
    assert(box.filter($"a".between(0, 1000) && $"b".between(0, 1000)).count() ==
      df.filter($"a".between(0, 1000) && $"b".between(0, 1000)).count())
    // partition pruning still composes on the optimized layout
    val plan = t.read("pt").filter($"region" === "2")
    plan.count()
    assert(plan.queryExecution.executedPlan.toString.contains("PartitionFilters"))
  }

  test("removeOrphans: meta-less version dirs and versionless manifests go; live state untouched") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val t = new SnapshotTables(spark, root)
    val df = spark.range(0, 100).toDF("id")
    t.overwriteTable(df, "tab", Nil, statsCols = Seq("id"))
    t.overwriteTable(df.filter(col("id") < 50), "tab")
    // fabricate crash debris: a version dir ABOVE the pointer with no
    // metadata (a lost-race data rename of a table written before the
    // pool layout) — a version is its meta, so it is no version and
    // reads never see it, but it holds storage until swept
    val orphanDir = new java.io.File(s"$root/tab/snapshots/v00009")
    orphanDir.mkdirs()
    java.nio.file.Files.write(orphanDir.toPath.resolve("junk.parquet"), Array[Byte](1, 2, 3))
    assert(t.currentVersion("tab") == 2)
    assert(t.read("tab").count() == 50)
    // and a manifest whose version metadata is gone
    val orphanMan = new java.io.File(s"$root/tab/metadata/v00008-manifest.parquet")
    orphanMan.mkdirs()
    // fresh debris survives the grace window…
    assert(t.removeOrphans("tab", graceMs = 3600 * 1000L) == ((0, 1)))
    assert(orphanDir.exists())
    // …and goes once past it; live state is untouched
    assert(t.removeOrphans("tab", graceMs = 0L) == ((1, 0)))
    assert(!orphanDir.exists() && !orphanMan.exists())
    assert(t.currentVersion("tab") == 2)
    assert(t.read("tab").count() == 50)
    assert(t.readVersion("tab", 1).count() == 100)
    // manifest of a live version survives (pruned reads still work)
    assert(t.readPruned("tab", "id", 0L, 10L).count() > 0)
  }

  test("statsCols naming only partition columns never yields empty pruned reads") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val t = new SnapshotTables(spark, root)
    val df = spark.range(0, 100).toDF("id").withColumn("bucket", ($"id" % 4).cast("int"))
    // partition columns live in dir names, not parquet footers: the
    // stats pass finds nothing for them. The commit must then behave
    // as if no manifest existed — full-scan fallback — rather than
    // writing an empty manifest that reads as "no files match"
    t.overwriteTable(df, "ptab", Seq("bucket"), statsCols = Seq("bucket"))
    assert(t.readPruned("ptab", "bucket", 0, 1).count() == 100)
    assert(t.readPrunedIn("ptab", "id", Seq(5L)).count() == 100)
  }

  test("manifestAgg/fastCount answer from metadata only, and refuse partial coverage") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val t = new SnapshotTables(spark, root)
    val df = spark.range(0, 5000).toDF("id")
      .withColumn("v", ($"id" % 97).cast("double"))
      .repartition(6)
    t.overwriteTable(df, "tab", Nil, statsCols = Seq("id", "v"), sketchCols = Seq("v"))
    // values match a direct scan...
    assert(t.fastCount("tab") == 5000L)
    val agg = t.manifestAgg("tab", Seq("id", "v")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(agg("id") == ((5000L, 0.0, 4999.0, 0L)))
    assert(agg("v") == ((5000L, 0.0, 96.0, 0L)))
    // ...but no DATA file is ever opened: everything reads from metadata/
    val inputs = t.manifestAgg("tab", Seq("id")).inputFiles
    assert(inputs.nonEmpty && inputs.forall(_.contains("/metadata/")),
      s"manifestAgg must touch only the manifest: ${inputs.toSeq}")
    // a column with no stats rows answers NULL, never a partial bound
    val none = t.manifestAgg("tab", Seq("absent"))
    assert(none.count() == 0) // no manifest rows at all for it
    // sketch-only tables carry no row counts: fastCount refuses
    t.overwriteTable(df, "sk", Nil, statsCols = Nil, sketchCols = Seq("id"))
    intercept[IllegalArgumentException](t.fastCount("sk"))
  }

  test("write-audit-publish: branch commits are invisible to main until publish") {
    val t = newTables()
    t.overwriteTable(Seq((1, "a"), (2, "b")).toDF("id", "v"), "tab")
    t.createBranch("tab", "audit")
    // zero-copy fork: uncommitted branch reads main's base version
    assert(t.readBranch("tab", "audit").as[(Int, String)].collect().toSet == Set((1, "a"), (2, "b")))
    // stage an upsert on the branch; main is untouched
    t.mergeToBranch("tab", "audit", Seq((2, "B2"), (3, "c")).toDF("id", "v"), keyCols = Seq("id"))
    assert(t.read("tab").as[(Int, String)].collect().toSet == Set((1, "a"), (2, "b")))
    assert(t.currentVersion("tab") == 1)
    assert(t.readBranch("tab", "audit").as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "B2"), (3, "c")))
    // audit passed: publish fast-forwards main, retires the branch
    val v = t.publish("tab", "audit")
    assert(v == 2 && t.currentVersion("tab") == 2)
    assert(t.read("tab").as[(Int, String)].collect().toSet == Set((1, "a"), (2, "B2"), (3, "c")))
    assert(t.branches("tab").isEmpty)
    // prior main version still time-travels
    assert(t.readVersion("tab", 1).count() == 2)
  }

  test("branchDiff previews exactly what publish would change") {
    val t = newTables()
    t.overwriteTable(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"), "tab")
    t.createBranch("tab", "wap")
    t.mergeToBranch("tab", "wap", Seq((2, "B2"), (4, "d")).toDF("id", "v"), keyCols = Seq("id"))
    t.commitToBranch("tab", "wap",
      t.readBranch("tab", "wap").filter($"id" =!= 3)) // and a delete
    val d = t.branchDiff("tab", "wap", Seq("id")).collect()
      .map(r => r.getInt(0) -> r.getString(r.fieldIndex("__change"))).toMap
    assert(d == Map(2 -> "update", 3 -> "delete", 4 -> "insert"))
    // publishing then realizes exactly that preview
    t.publish("tab", "wap")
    assert(t.read("tab").as[(Int, String)].collect().toSet == Set((1, "a"), (2, "B2"), (4, "d")))
  }

  test("publish refuses when main advanced past the fork; drop-branch leaves no trace") {
    val t = newTables()
    t.overwriteTable(Seq((1, "a")).toDF("id", "v"), "tab")
    t.createBranch("tab", "wap")
    t.commitToBranch("tab", "wap", Seq((9, "z")).toDF("id", "v"))
    // a concurrent main commit lands after the fork
    t.overwriteTable(Seq((1, "a"), (5, "e")).toDF("id", "v"), "tab")
    intercept[SnapshotTables.ConcurrentCommitException](t.publish("tab", "wap"))
    // main keeps the concurrent change; the audited batch was not silently dropped on top
    assert(t.read("tab").as[(Int, String)].collect().toSet == Set((1, "a"), (5, "e")))
    // failed audit path: drop the branch, nothing ever happened
    t.dropBranch("tab", "wap")
    assert(t.branches("tab").isEmpty)
    assert(t.read("tab").as[(Int, String)].collect().toSet == Set((1, "a"), (5, "e")))
    // duplicate branch names are refused by the exclusive ref create
    t.createBranch("tab", "b1")
    intercept[IllegalStateException](t.createBranch("tab", "b1"))
  }

  test("a torn branch ref keeps its base: commits still land, expireSnapshots fails naming the ref") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft-snap").toString
    val t = new SnapshotTables(spark, root)
    t.overwriteTable(Seq((1, "a")).toDF("id", "v"), "tab") // v1, the branch base
    val base = versionDir(t, "tab", 1).toPath
    t.setRetention("tab", Some(1))
    t.createBranch("tab", "torn")
    Files.writeString(Paths.get(root, "tab", "metadata", "refs", "torn"), """{"base":""")
    (2 to 4).foreach { i =>
      t.overwriteTable(Seq((i, "x")).toDF("id", "v"), "tab")
      assert(t.currentVersion("tab") == i)
    }
    assert(Files.isDirectory(base), "an unreadable ref must not release its base")
    val e = intercept[IllegalStateException](t.expireSnapshots("tab", Long.MaxValue))
    assert(e.getMessage.contains("refs/torn"), e.getMessage)
    assert(Files.isDirectory(base))
  }

  test("branch base versions survive retention; published manifest still prunes") {
    import org.apache.spark.sql.functions._
    val t = newTables(retention = 2)
    t.overwriteTable(Seq((1, "a")).toDF("id", "v"), "tab")
    t.createBranch("tab", "keeper") // base = v1
    // churn main far past the retention window — but v1 is branch-protected
    (2 to 8).foreach(i => t.overwriteTable(Seq((i, "x")).toDF("id", "v"), "tab"))
    assert(t.history("tab").contains(1), "branch base must survive retention")
    assert(t.readBranch("tab", "keeper").as[(Int, String)].head() == ((1, "a")))
    t.dropBranch("tab", "keeper")
    // once dropped, the next commit's retention pass may expire the base
    t.overwriteTable(Seq((9, "x")).toDF("id", "v"), "tab")
    assert(!t.history("tab").contains(1))
    // stats manifests ride publish: a branch commit with statsCols,
    // published, prunes on main exactly as a direct commit would
    val df = spark.range(0, 4000).toDF("id")
      .repartitionByRange(4, $"id").sortWithinPartitions($"id")
    t.overwriteTable(df.limit(1), "ptab")
    t.createBranch("ptab", "load")
    t.commitToBranch("ptab", "load", df, statsCols = Seq("id"))
    t.publish("ptab", "load")
    val pruned = t.readPruned("ptab", "id", 100, 200)
    assert(pruned.inputFiles.length < t.read("ptab").inputFiles.length)
    assert(pruned.filter($"id".between(100, 200)).count() == 101)
  }

  test("bloom membership sketches prune point lookups range stats cannot; answers unchanged") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val t = new SnapshotTables(spark, root, sketchBits = 1 << 14, sketchHashes = 4)
    // UNSORTED layout: every file's [min,max] spans the whole id domain,
    // so range stats skip nothing for a point probe — exactly the case
    // membership sketches exist for
    val df = spark.range(0, 8000).toDF("id")
      .withColumn("name", concat(lit("u"), lpad($"id".cast("string"), 6, "0")))
      .repartition(8)
    t.overwriteTable(df, "tab", Nil, statsCols = Seq("id"), sketchCols = Seq("id", "name"))
    val full = t.read("tab")
    assert(full.inputFiles.length == 8)
    // a point probe lives in exactly one file; bloom pruning must find
    // a strict subset (false positives are possible but bounded — with
    // 1000 distinct/file in 2^14 bits FPR ~ 3e-3, deterministic here)
    val one = t.readPrunedIn("tab", "id", Seq(4242L))
    assert(one.inputFiles.length < 8, s"expected pruning, got ${one.inputFiles.length} files")
    assert(one.filter($"id" === 4242L).count() == 1)
    // IN list over both present and absent values: all present rows
    // survive, absent values keep nothing extra beyond false positives
    val in = t.readPrunedIn("tab", "id", Seq(1L, 4242L, 7999L, 123456L))
    assert(in.filter($"id".isin(1L, 4242L, 7999L, 123456L)).count() == 3)
    // string column sketch prunes too
    val s = t.readPrunedIn("tab", "name", Seq("u004242"))
    assert(s.inputFiles.length < 8)
    assert(s.filter($"name" === "u004242").count() == 1)
    // a column with neither sketch nor stats keeps every file
    assert(t.readPrunedIn("tab", "absent", Seq(1)).inputFiles.length == 8)
    // sketch_cols is a table property: DML re-commits keep maintaining
    // sketches without re-threading the columns
    t.delete("tab", $"id" >= 6000)
    val after = t.readPrunedIn("tab", "id", Seq(4242L))
    assert(after.inputFiles.length < t.read("tab").inputFiles.length)
    assert(after.filter($"id" === 4242L).count() == 1)
    // no-manifest table: full-scan fallback
    t.overwriteTable(df, "plain")
    assert(t.readPrunedIn("plain", "id", Seq(1L)).inputFiles.length ==
      t.read("plain").inputFiles.length)
    // partitioned table: partition columns live in dir names, not file
    // data — they are skipped gracefully and other sketches still work
    val pdf = df.withColumn("bucket", ($"id" % 4).cast("int"))
    t.overwriteTable(pdf, "ptab", Seq("bucket"), statsCols = Nil, sketchCols = Seq("bucket", "id"))
    val pp = t.readPrunedIn("ptab", "id", Seq(4242L))
    assert(pp.columns.contains("bucket"))
    assert(pp.filter($"id" === 4242L).count() == 1)
    assert(pp.inputFiles.length < t.read("ptab").inputFiles.length)
  }

  test("z-ordered snapshot commit + box pruning reads a fraction of the files on both columns") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val t = new SnapshotTables(spark, root)
    val df = spark.range(0, 20000).toDF("rid")
      .withColumn("x", pmod(hash($"rid" * 7919), lit(10000)).cast("long"))
      .withColumn("y", pmod(hash($"rid" * 104729 + 1), lit(10000)).cast("long"))
    t.overwriteTable(Sinks.zorderCluster(df, Seq("x", "y"), numFiles = 16),
      "tab", Nil, statsCols = Seq("x", "y"))
    assert(t.read("tab").inputFiles.length == 16)
    val box = t.readPrunedBox("tab", Seq(("x", 4500L, 5500L), ("y", 4500L, 5500L)))
    assert(box.inputFiles.length <= 10,
      s"box should prune most of 16 z-ordered files, read ${box.inputFiles.length}")
    // pruned-path results equal the full-scan results
    val expect = t.read("tab")
      .filter($"x".between(4500, 5500) && $"y".between(4500, 5500)).count()
    assert(box.filter($"x".between(4500, 5500) && $"y".between(4500, 5500)).count() == expect)
    assert(expect > 0)
  }

  test("q102 shape: pruned box read scans fewer files than the snapshot holds, answers unchanged") {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val root = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val t = new SnapshotTables(spark, root)
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    t.overwriteTable(
      Sinks.zorderCluster(li, Seq("l_orderkey", "l_partkey"), numFiles = 16),
      "li_z", Nil, statsCols = Seq("l_orderkey", "l_partkey"))
    val total = t.read("li_z").inputFiles.length
    assert(total == 16)
    // a selective box on BOTH z columns (~6% x ~10% of each domain)
    val pruned = t.readPrunedBox("li_z", Seq(("l_orderkey", 100, 200), ("l_partkey", 10, 30)))
    assert(pruned.inputFiles.length < total,
      s"box read must skip files: ${pruned.inputFiles.length} of $total")
    // file skipping is IO-only: the filtered aggregate equals the full scan's
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("l_orderkey").between(100, 200) && col("l_partkey").between(10, 30))
        .agg(count(lit(1)), sum(col("l_quantity").cast("decimal(18,2)"))).head
    assert(agg(pruned) == agg(t.read("li_z")))
  }

  test("optimize: z-order rewrite changes layout only — content identical, box reads prune") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft-snap-opt").toString
    val t = new SnapshotTables(spark, root)
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    // land deliberately scattered: many files, no useful clustering
    t.overwriteTable(li.repartition(16), "li_opt")
    val before = t.read("li_opt").collect().map(_.toString).sorted.toSeq
    val vBefore = t.currentVersion("li_opt")
    // tiny target so the rewrite yields multiple clustered files
    t.optimize("li_opt", Seq("l_orderkey", "l_partkey"), targetFileBytes = 16L << 10)
    assert(t.currentVersion("li_opt") == vBefore + 1)
    // layout rewrite only: content is bit-identical
    assert(t.read("li_opt").collect().map(_.toString).sorted.toSeq == before)
    // and the new layout actually prunes box reads via the manifest
    val total = t.read("li_opt").inputFiles.length
    assert(total > 1)
    val pruned = t.readPrunedBox("li_opt", Seq(("l_orderkey", 100, 200), ("l_partkey", 10, 30)))
    assert(pruned.inputFiles.length < total,
      s"optimize must enable pruning: ${pruned.inputFiles.length} of $total")
    // prior version still readable (layout maintenance never rewrites history)
    assert(t.readVersion("li_opt", vBefore).count() == before.size)
  }

  test("diff between versions yields the CDC feed; diffKeyed classifies insert/update/delete") {
    val t = newTables()
    t.overwriteTable(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"), "tab")
    t.merge("tab", Seq((2, "B2"), (4, "d")).toDF("id", "v"), keyCols = Seq("id"))
    t.delete("tab", org.apache.spark.sql.functions.col("id") === 3)
    // v1 -> v3: 2 updated, 4 inserted, 3 deleted, 1 untouched
    val d = t.diff("tab", 1, 3).as[(Int, String, String)].collect().toSet
    assert(d == Set((2, "B2", "insert"), (4, "d", "insert"), (2, "b", "delete"), (3, "c", "delete")))
    val dk = t.diffKeyed("tab", 1, 3, Seq("id"))
      .selectExpr("id", "__change", "__old.v", "__new.v")
      .as[(Int, String, Option[String], Option[String])].collect().toSet
    assert(dk == Set(
      (2, "update", Some("b"), Some("B2")),
      (4, "insert", None, Some("d")),
      (3, "delete", Some("c"), None)))
    // adjacent identical versions diff to empty
    assert(t.diff("tab", 3, 3).isEmpty)
  }

  test("a regressed pointer never masks committed snapshots and self-heals on the next commit") {
    val root = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val t = new SnapshotTables(spark, root)
    t.overwriteTable(Seq((1, "a")).toDF("id", "v"), "tab")
    t.overwriteTable(Seq((2, "b")).toDF("id", "v"), "tab")
    // Interleaved pointer writes (or a crash between data rename and
    // pointer flip) can leave the pointer BEHIND history. Readers must
    // still see v2, and the next commit must target v3 — with a
    // pointer-trusting currentVersion it would retry v2's CAS forever.
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(root, "tab", "metadata", ".current.crc"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "tab", "metadata", "current"), "1".getBytes("UTF-8"))
    assert(t.currentVersion("tab") == 2)
    assert(t.read("tab").as[(Int, String)].head() == ((2, "b")))
    t.overwriteTable(Seq((3, "c")).toDF("id", "v"), "tab")
    assert(t.currentVersion("tab") == 3)
    assert(t.history("tab") == Seq(1, 2, 3))
  }

  test("crash-orphaned metadata (meta file, no snapshot data) is reclaimed after the grace period") {
    val root = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val t = new SnapshotTables(spark, root, orphanGraceMs = 0L)
    t.overwriteTable(Seq((1, "a")).toDF("id", "v"), "tab")
    // a claim that names no data: v00002.json exists, with neither a
    // `data_dir` nor a snapshots/v00002 directory
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "tab", "metadata", "v00002.json"), "{}".getBytes("UTF-8"))
    t.overwriteTable(Seq((2, "b")).toDF("id", "v"), "tab") // reclaims instead of wedging
    assert(t.currentVersion("tab") == 2)
    assert(t.read("tab").as[(Int, String)].head() == ((2, "b")))
    assert(t.history("tab") == Seq(1, 2))
  }

  test("crash-orphaned metadata that is empty or torn is never a commit and is reclaimed, both layouts") {
    // the CAS creates the meta file, then writes it: a crash in between
    // leaves it empty or holding a prefix of the rendering
    // (the rendering without a `data_dir` is the layout before the pool)
    val inputs = Seq("{}", "", """{"version":2,"writer":"dead-wr""",
      """{"version":2,"writer":"dead-writer","partition_cols":[],""" +
        "\"data_dir\":\"file:/tmp/graft-dead/tab/data/dead-writer\",")
    inputs.foreach { orphan =>
      val root = java.nio.file.Files.createTempDirectory("graft-snap").toString
      val t = new SnapshotTables(spark, root, orphanGraceMs = 0L)
      t.overwriteTable(Seq((1, "a")).toDF("id", "v"), "tab")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(root, "tab", "metadata", "v00002.json"), orphan.getBytes("UTF-8"))
      val clue = s"orphan '$orphan'"
      assert(t.history("tab") == Seq(1), clue)
      t.overwriteTable(Seq((2, "b")).toDF("id", "v"), "tab") // reclaims instead of wedging
      assert(t.currentVersion("tab") == 2, clue)
      assert(t.history("tab") == Seq(1, 2), clue)
      assert(t.read("tab").as[(Int, String)].collect().toSeq == Seq((2, "b")), clue)
    }
  }

  test("a retained version whose meta does not parse fails loudly") {
    val root = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val t = new SnapshotTables(spark, root)
    t.overwriteTable(Seq((1, "a")).toDF("id", "v"), "tab")
    t.append(Seq((2, "b")).toDF("id", "v"), "tab")
    val meta = java.nio.file.Paths.get(root, "tab", "metadata", "v00002.json")
    val text = java.nio.file.Files.readString(meta)
    java.nio.file.Files.writeString(meta, text.take(text.length / 2))
    assert(t.history("tab") == Seq(1, 2)) // the version is still committed
    intercept[java.io.IOException](t.read("tab").collect())
    intercept[java.io.IOException](t.chainKinds("tab", 2))
  }

  test("an orphan still inside the grace period is NOT reclaimed (winner may be mid-rename)") {
    val root = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val t = new SnapshotTables(spark, root, orphanGraceMs = 3600000L)
    t.overwriteTable(Seq((1, "a")).toDF("id", "v"), "tab")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "tab", "metadata", "v00002.json"), "{}".getBytes("UTF-8"))
    intercept[SnapshotTables.ConcurrentCommitException] {
      t.overwriteTable(Seq((2, "b")).toDF("id", "v"), "tab")
    }
    assert(t.currentVersion("tab") == 1) // table untouched, orphan left for the owner/grace expiry
  }

  test("a staging dir with a FRESH heartbeat is never vacuumed (live long write), a stale one is") {
    val root = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val t = new SnapshotTables(spark, root, orphanGraceMs = 0L)
    t.overwriteTable(Seq((1, "a")).toDF("id", "v"), "tab")
    // two writers' pool dirs no meta references yet: graceMs=0 would
    // sweep ANY dir without a heartbeat — the fresh marker must be what
    // saves the live writer's dir
    val live = java.nio.file.Paths.get(root, "tab", "data", "live-writer")
    val dead = java.nio.file.Paths.get(root, "tab", "data", "stale-writer")
    java.nio.file.Files.createDirectories(live)
    java.nio.file.Files.createDirectories(dead)
    java.nio.file.Files.write(live.resolve("._graft_heartbeat"), "now".getBytes("UTF-8"))
    val old = java.nio.file.Files.write(dead.resolve("._graft_heartbeat"), "old".getBytes("UTF-8"))
    // a writer that stopped beating long ago (4 missed beats = dead)
    java.nio.file.Files.setLastModifiedTime(old,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis - 3600000L))
    t.removeOrphans("tab", graceMs = 0L)
    assert(java.nio.file.Files.exists(live), "fresh heartbeat must protect a live writer's staging dir")
    assert(!java.nio.file.Files.exists(dead), "a writer whose beats stopped is reclaimable")
    assert(t.read("tab").as[(Int, String)].collect().toSeq == Seq((1, "a")))
  }

  test("commit meta carries the writer's fence UUID; reclaim backs off when the meta changed hands") {
    val root = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val t = new SnapshotTables(spark, root, orphanGraceMs = 0L)
    t.overwriteTable(Seq((1, "a")).toDF("id", "v"), "tab")
    val meta = java.nio.file.Paths.get(root, "tab", "metadata", "v00001.json")
    val json = new String(java.nio.file.Files.readAllBytes(meta), "UTF-8")
    assert(json.contains("\"writer\":\""), "meta must carry the fence token")
    // an orphan whose content is re-read as CHANGED between stat and
    // delete is another reclaimer's fresh win — this writer backs off
    // (exercised via the normal reclaim path: content equality holds
    // here, so reclaim proceeds; the back-off branch is the guard)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "tab", "metadata", "v00002.json"),
      """{"version":2,"writer":"dead-writer"}""".getBytes("UTF-8"))
    t.overwriteTable(Seq((2, "b")).toDF("id", "v"), "tab")
    assert(t.currentVersion("tab") == 2)
    val json2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "tab", "metadata", "v00002.json")), "UTF-8")
    assert(!json2.contains("dead-writer"), "reclaimed version is owned by the new winner")
  }

  test("concurrent writers: at most one wins each version, pointer equals max history") {
    val root = java.nio.file.Files.createTempDirectory("graft-snap").toString
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val outcomes = Await.result(
      Future.sequence((1 to 4).map { i =>
        Future {
          val w = new SnapshotTables(spark, root) // one instance per writer, shared root
          try { w.overwriteTable(Seq((i, s"w$i")).toDF("id", "v"), "tab"); "ok" }
          catch { case _: SnapshotTables.ConcurrentCommitException => "lost" }
        }
      }), 120.seconds)
    val t = new SnapshotTables(spark, root)
    val wins = outcomes.count(_ == "ok")
    assert(wins >= 1 && wins + outcomes.count(_ == "lost") == 4)
    // Exactly one pool dir per committed version (losers deleted
    // theirs), and the pointer resolves to the newest committed version.
    val hist = t.history("tab")
    assert(hist == (1 to wins))
    assert(poolDirs(root, "tab") == hist.map(versionDir(t, "tab", _).getName).sorted)
    assert(t.currentVersion("tab") == wins)
    assert(t.read("tab").count() == 1)
  }

  test("concurrent publishes from one base: exactly one branch lands, losers intact, no nesting") {
    val root = java.nio.file.Files.createTempDirectory("graft-snap").toString
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val t = new SnapshotTables(spark, root)
    t.overwriteTable(Seq((0, "base")).toDF("id", "v"), "tab")
    (1 to 3).foreach { i =>
      t.createBranch("tab", s"b$i")
      t.commitToBranch("tab", s"b$i", Seq((i, s"branch$i")).toDF("id", "v"))
    }
    val outcomes = Await.result(
      Future.sequence((1 to 3).map { i =>
        Future {
          val w = new SnapshotTables(spark, root)
          try { w.publish("tab", s"b$i"); s"ok$i" }
          catch { case _: SnapshotTables.ConcurrentCommitException => s"lost$i" }
        }
      }), 120.seconds)
    val wins = outcomes.filter(_.startsWith("ok"))
    assert(wins.size == 1, s"exactly one publish must win: $outcomes")
    val winner = wins.head.drop(2).toInt
    // main is exactly the winner's content, one new version, no nesting
    assert(t.currentVersion("tab") == 2)
    assert(t.read("tab").as[(Int, String)].collect().toSet == Set((winner, s"branch$winner")))
    val snapFiles = versionDir(t, "tab", 2).listFiles()
    assert(!snapFiles.exists(f => f.getName.startsWith("v") || f.isDirectory),
      s"no nested snapshot dirs: ${snapFiles.map(_.getName).toSeq}")
    // losers' branches survive untouched for re-audit on the new base
    val losers = (1 to 3).filterNot(_ == winner)
    losers.foreach { i =>
      assert(t.branches("tab").contains(s"b$i"))
      assert(t.readBranch("tab", s"b$i").as[(Int, String)].collect().toSet == Set((i, s"branch$i")))
    }
  }

  test("sketchHashes outside [1, 8] is rejected at construction, not silently truncated") {
    val root = java.nio.file.Files.createTempDirectory("graft-snap").toString
    intercept[IllegalArgumentException](new SnapshotTables(spark, root, sketchHashes = 9))
    intercept[IllegalArgumentException](new SnapshotTables(spark, root, sketchHashes = 0))
  }

  test("stats-cols property crosses the branch fork and publish seams") {
    val t = newTables()
    t.overwriteTable((1 to 100).map(i => (i, s"v$i")).toDF("id", "v"), "tab", Nil, Seq("id"))
    assert(t.fastCount("tab") == 100L)
    t.createBranch("tab", "wap")
    // branch commit WITHOUT re-threading statsCols: the seeded branch
    // property keeps the manifest maintained on the branch
    t.commitToBranch("tab", "wap", (1 to 150).map(i => (i, s"v$i")).toDF("id", "v"))
    t.publish("tab", "wap")
    // the published main version answers from its manifest...
    assert(t.fastCount("tab") == 150L)
    // ...and LATER plain main commits keep maintaining it
    t.overwriteTable((1 to 70).map(i => (i, s"v$i")).toDF("id", "v"), "tab")
    assert(t.fastCount("tab") == 70L)
  }

  test("hidden-partition transform spec crosses fork and publish — layout never flattens") {
    import SnapshotTables.PartitionTransform
    val root = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val t = new SnapshotTables(spark, root)
    val pt = PartitionTransform.bucket(4, "id")
    t.overwriteTableTransformed((1 to 40).map(i => (i, s"v$i")).toDF("id", "v"), "ptab", Seq(pt))
    t.createBranch("ptab", "wap")
    // plain branch commit (no partition cols): the seeded transform
    // spec must re-derive the bucketed layout, not flatten it
    t.commitToBranch("ptab", "wap", (1 to 60).map(i => (i, s"v$i")).toDF("id", "v"))
    t.publish("ptab", "wap")
    val snap = versionDir(t, "ptab", 2)
    assert(snap.listFiles().exists(f => f.isDirectory && f.getName.startsWith("__p_")),
      "published snapshot keeps the hidden-partition directory layout")
    // and later plain MAIN commits keep re-deriving it too
    t.overwriteTable((1 to 30).map(i => (i, s"v$i")).toDF("id", "v"), "ptab")
    val snap3 = versionDir(t, "ptab", 3)
    assert(snap3.listFiles().exists(f => f.isDirectory && f.getName.startsWith("__p_")))
    assert(t.readPartitionValues("ptab", pt, Seq(7)).count() > 0)
  }

  test("pruned readers fall back to the full scan past the driver file-list budget") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val t = new SnapshotTables(spark, root)
    // clustered layout: disjoint per-file id ranges, 8 files
    val df = spark.range(0, 8000).toDF("id")
      .repartitionByRange(8, $"id").sortWithinPartitions($"id")
    t.overwriteTable(df, "tab", Nil, statsCols = Seq("id"))
    assert(t.read("tab").inputFiles.length == 8)
    // shrink the driver file-list budget to 2 so a wide predicate
    // (keeping ~6 of 8 files) must abandon path enumeration and
    // full-scan — never wrong, the caller still filters rows
    spark.conf.set("graft.manifest.maxFileList", "2")
    try {
      val wide = t.readPruned("tab", "id", 1000, 7000)
      assert(wide.inputFiles.length == 8,
        s"past the budget the reader must fall back to the full scan; got ${wide.inputFiles.length} files")
      assert(wide.filter($"id".between(1000, 7000)).count() == 6001)
      // a tight bound (<= budget surviving files) still prunes
      val tight = t.readPruned("tab", "id", 0, 10)
      assert(tight.inputFiles.length <= 2)
      assert(tight.filter($"id" <= 10).count() == 11)
      // the IN-probe reader takes the same fallback: 4 spread probes
      // survive in 4 distinct files > budget 2 -> full scan
      val in = t.readPrunedIn("tab", "id", Seq(500L, 2500L, 4500L, 6500L))
      assert(in.inputFiles.length == 8)
      assert(in.filter($"id".isin(500L, 2500L, 4500L, 6500L)).count() == 4)
      val inTight = t.readPrunedIn("tab", "id", Seq(100L))
      assert(inTight.inputFiles.length <= 2)
      assert(inTight.filter($"id" === 100L).count() == 1)
    } finally spark.conf.unset("graft.manifest.maxFileList")
  }

  test("zero-file delta segments never poison partition-range/value reads") {
    import org.apache.spark.sql.functions._
    import SnapshotTables.PartitionTransform
    val t = newTables()
    val df = spark.range(0, 200).toDF("id")
      .withColumn("ts", expr("timestamp_seconds(1704067200 + id * 600)"))
    val byDay = PartitionTransform.days("ts")
    t.overwriteTableTransformed(df, "ev", Seq(byDay))
    // an EMPTY append is committable (e.g. SQL `INSERT INTO ... SELECT`
    // matching 0 rows: the dynamic-partition write emits no part files,
    // only _SUCCESS) — every later read must skip the dir, not throw
    t.append(df.where(lit(false)), "ev")
    assert(t.listedKind("ev", t.currentVersion("ev")) == Some("append"))
    assert(t.read("ev").count() == 200)
    val ranged = t.readPartitionRange("ev", byDay, "2024-01-01 00:00:00", "2024-01-01 23:59:59")
    assert(ranged.count() == 144) // one full day @ 144 rows
    val probed = t.readPartitionValues("ev", byDay, Seq("2024-01-01 12:00:00"))
    assert(probed.count() == 144)
    // a chain of ONLY empty segments answers with an empty frame of the
    // declared schema instead of a schema-inference error
    t.overwriteTable(df.where(lit(false)), "none")
    t.append(df.where(lit(false)), "none")
    val empty = t.readPartitionRange("none", byDay, "2024-01-01 00:00:00", "2024-01-02 00:00:00")
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("id", "ts"))
  }
}
