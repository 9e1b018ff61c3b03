package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Delta commits — the merge-on-read half of the snapshot format:
  * O(delta) appends, keyed MOR upsert/delete, patch-style MOR
  * DELETE/UPDATE, chain resolution, retention protection of chain
  * bases, bounded chains with auto-materialization, and the pruning /
  * metadata surfaces over append-only chains. Every semantic test pins
  * equivalence against the copy-on-write twin of the same operation
  * sequence. */
class DeltaCommitsSpec extends SparkSpec {
  import spark.implicits._

  private def newTables(retention: Int = 10) = {
    val root = java.nio.file.Files.createTempDirectory("graft-delta").toString
    (new SnapshotTables(spark, root, previousVersionsMax = retention), root)
  }

  /** Version `v`'s data dir, resolved through its meta. */
  private def snapDirOf(t: SnapshotTables, table: String, v: Int): String =
    new org.apache.hadoop.fs.Path(t.snapshotDirString(table, v)).toUri.getPath

  /** `/<name>/` of version `v`'s data dir: a file path holding it lies
    * in that version's segment. */
  private def segOf(t: SnapshotTables, table: String, v: Int): String =
    "/" + new org.apache.hadoop.fs.Path(t.snapshotDirString(table, v)).getName + "/"

  test("append commits O(delta) bytes: the new version dir holds only the appended rows") {
    val (t, _) = newTables()
    t.overwriteTable((1 to 1000).map(i => (i, s"r$i")).toDF("id", "v"), "tab")
    t.append(Seq((1001, "x"), (1002, "y")).toDF("id", "v"), "tab")
    assert(t.currentVersion("tab") == 2)
    // the whole table reads through the chain…
    assert(t.read("tab").count() == 1002)
    // …but version 2's directory physically holds ONLY the delta
    assert(spark.read.parquet(snapDirOf(t, "tab", 2)).count() == 2)
    // time travel to the pre-append version still works
    assert(t.readVersion("tab", 1).count() == 1000)
    // appends keep the version line auditable
    assert(t.history("tab") == Seq(1, 2))
  }

  test("append validates columns loudly; empty appends are harmless; first append on empty table is a full commit") {
    val (t, _) = newTables()
    t.append(Seq((1, "a")).toDF("id", "v"), "tab") // empty table: full commit
    assert(t.chainKinds("tab", 1) == Seq("full"))
    intercept[IllegalArgumentException](t.append(Seq((2, "b", 0.1)).toDF("id", "v", "extra"), "tab"))
    intercept[IllegalArgumentException](t.append(Seq(3).toDF("id"), "tab"))
    t.append(Seq.empty[(Int, String)].toDF("id", "v"), "tab")
    assert(t.currentVersion("tab") == 2)
    assert(t.read("tab").as[(Int, String)].collect().toSet == Set((1, "a")))
  }

  test("upsertMor matches merge() exactly; the commit dir holds only the batch") {
    val (t, _) = newTables()
    val base = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
    val batch = Seq((2, "B2"), (4, "d")).toDF("id", "v")
    t.overwriteTable(base, "cow"); t.merge("cow", batch, Seq("id"))
    t.overwriteTable(base, "mor"); t.upsertMor("mor", batch, Seq("id"))
    assert(t.read("mor").as[(Int, String)].collect().toSet ==
      t.read("cow").as[(Int, String)].collect().toSet)
    assert(spark.read.parquet(snapDirOf(t, "mor", 2)).count() == 2) // O(batch), not O(table)
    // a replayed identical upsert changes nothing (streaming retry contract)
    t.upsertMor("mor", batch, Seq("id"))
    assert(t.read("mor").as[(Int, String)].collect().toSet ==
      t.read("cow").as[(Int, String)].collect().toSet)
    // later upserts override earlier chain segments per key
    t.upsertMor("mor", Seq((2, "B3")).toDF("id", "v"), Seq("id"))
    assert(t.read("mor").filter($"id" === 2).as[(Int, String)].head() == ((2, "B3")))
  }

  test("deleteKeysMor writes only the purged keys; matches COW delete") {
    val (t, _) = newTables()
    val base = (1 to 500).map(i => (i, s"r$i")).toDF("id", "v")
    t.overwriteTable(base, "cow"); t.delete("cow", $"id" % 100 === 7)
    t.overwriteTable(base, "mor")
    t.deleteKeysMor("mor", Seq(7, 107, 207, 307, 407).toDF("id"))
    assert(t.read("mor").as[(Int, String)].collect().toSet ==
      t.read("cow").as[(Int, String)].collect().toSet)
    assert(spark.read.parquet(snapDirOf(t, "mor", 2)).count() == 5) // five ids, not 495 rows
    intercept[IllegalArgumentException](t.deleteKeysMor("mor", Seq(1).toDF("nope")))
  }

  test("deleteWhereMor keeps NULL-predicate rows (SQL DELETE semantics), like COW delete") {
    val (t, _) = newTables()
    val base = Seq((1, Some("a")), (2, None), (3, Some("c"))).toDF("id", "v")
    t.overwriteTable(base, "cow"); t.delete("cow", $"v" === "a")
    t.overwriteTable(base, "mor"); t.deleteWhereMor("mor", $"v" === "a")
    // id=2's predicate is NULL → kept on both paths
    assert(t.read("mor").select("id").as[Int].collect().toSet == Set(2, 3))
    assert(t.read("cow").select("id").as[Int].collect().toSet == Set(2, 3))
  }

  test("updateMor matches update(), including the evaluate-against-OLD-row swap") {
    val (t, _) = newTables()
    val base = Seq((1, 10, 20), (2, 30, 40)).toDF("id", "a", "b")
    t.overwriteTable(base, "cow"); t.update("cow", Seq("a" -> $"b", "b" -> $"a"), $"id" === 1)
    t.overwriteTable(base, "mor"); t.updateMor("mor", Seq("a" -> $"b", "b" -> $"a"), $"id" === 1)
    val expected = Set((1, 20, 10), (2, 30, 40))
    assert(t.read("cow").as[(Int, Int, Int)].collect().toSet == expected)
    assert(t.read("mor").as[(Int, Int, Int)].collect().toSet == expected)
    intercept[IllegalArgumentException](t.updateMor("mor", Seq("nope" -> lit(1)), $"id" === 1))
  }

  test("a mixed chain resolves in commit order; diff/diffKeyed and time travel read through it") {
    val (t, _) = newTables()
    t.overwriteTable(Seq((1, "a"), (2, "b")).toDF("id", "v"), "tab") // v1 full
    t.append(Seq((3, "c")).toDF("id", "v"), "tab")                   // v2 append
    t.upsertMor("tab", Seq((2, "B"), (4, "d")).toDF("id", "v"), Seq("id")) // v3 upsert
    t.deleteKeysMor("tab", Seq(1).toDF("id"))                        // v4 delete
    t.updateMor("tab", Seq("v" -> concat($"v", lit("!"))), $"id" === 3) // v5 patch
    assert(t.chainKinds("tab", 5) == Seq("full", "append", "mor_upsert", "mor_delete", "mor_patch"))
    assert(t.read("tab").as[(Int, String)].collect().toSet ==
      Set((2, "B"), (3, "c!"), (4, "d")))
    // every intermediate version time-travels to its own resolved state
    assert(t.readVersion("tab", 2).as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "b"), (3, "c")))
    assert(t.readVersion("tab", 4).as[(Int, String)].collect().toSet ==
      Set((2, "B"), (3, "c"), (4, "d")))
    // CDC classifies across delta versions exactly as across full ones
    val d = t.diffKeyed("tab", 2, 5, Seq("id")).select("id", "__change")
      .as[(Int, String)].collect().toSet
    assert(d == Set((1, "delete"), (2, "update"), (3, "update"), (4, "insert")))
  }

  test("chains are bounded: the commit past maxChainLength materializes first") {
    val (t, _) = newTables()
    spark.conf.set("graft.delta.maxChainLength", "3")
    try {
      t.overwriteTable(Seq((0, "r0")).toDF("id", "v"), "tab")
      (1 to 5).foreach(i => t.append(Seq((i, s"r$i")).toDF("id", "v"), "tab"))
      // v1 full, v2 v3 append (chain=3) → v4 materialize, v5 append, v6 append
      // (chain=3 again) → v7 materialize, v8 append
      assert(t.currentVersion("tab") == 8)
      assert(t.chainKinds("tab", 8) == Seq("full", "append"))
      assert(t.read("tab").count() == 6)
      // chain length never exceeded the budget at any committed version
      (1 to 8).foreach(v => assert(t.chainKinds("tab", v).length <= 3))
    } finally spark.conf.unset("graft.delta.maxChainLength")
  }

  test("retention never expires a chain ancestor a retained version still needs") {
    val (t, _) = newTables(retention = 2)
    spark.conf.set("graft.delta.maxChainLength", "50")
    try {
      t.overwriteTable((1 to 10).map(i => (i, s"r$i")).toDF("id", "v"), "tab") // v1 full
      (1 to 6).foreach(i => t.append(Seq((100 + i, "x")).toDF("id", "v"), "tab")) // v2..v7 deltas
      // plain retention would keep only v5..v7 — but v7's chain walks
      // back to the v1 base, so everything v7 needs must survive
      assert(t.history("tab").contains(1))
      assert(t.read("tab").count() == 16)
      // a materializing commit cuts the chain; the NEXT commit's
      // retention pass can then expire the old base
      t.materialize("tab") // v8 full
      t.append(Seq((200, "y")).toDF("id", "v"), "tab") // v9 — expire runs
      t.append(Seq((201, "z")).toDF("id", "v"), "tab") // v10 — expire runs
      assert(!t.history("tab").contains(1))
      assert(t.read("tab").count() == 18)
    } finally spark.conf.unset("graft.delta.maxChainLength")
  }

  test("append-only chains keep manifests: fastCount, manifest() and pruned reads stay live") {
    val (t, _) = newTables()
    val base = (1 to 1000).map(i => (i.toLong, s"r$i")).toDF("id", "v")
      .repartitionByRange(4, $"id").sortWithinPartitions($"id")
    t.overwriteTable(base, "tab", Nil, statsCols = Seq("id"))
    val delta = (1001 to 1200).map(i => (i.toLong, s"r$i")).toDF("id", "v")
      .repartitionByRange(2, $"id").sortWithinPartitions($"id")
    t.append(delta, "tab")
    assert(t.fastCount("tab") == 1200L)
    // manifest() unions per-segment manifests
    assert(t.manifest("tab").select("file").distinct().count() == 6)
    // pruned read spanning both segments: correct rows, and file
    // skipping is REAL (strictly fewer input files than a full scan)
    val pruned = t.readPruned("tab", "id", 990L, 1010L)
    assert(pruned.filter($"id" >= 990 && $"id" <= 1010).count() == 21)
    assert(pruned.inputFiles.length < t.read("tab").inputFiles.length)
    // a bound entirely inside the delta segment touches no base file
    val deltaOnly = t.readPruned("tab", "id", 1150L, 1200L)
    assert(deltaOnly.inputFiles.length <= 1)
    assert(deltaOnly.filter($"id" >= 1150L).count() == 51)
  }

  test("merge-on-read chains read resolved everywhere; materialize() restores the metadata surfaces") {
    val (t, _) = newTables()
    val base = (1 to 100).map(i => (i.toLong, s"r$i")).toDF("id", "v")
    t.overwriteTable(base, "tab", Nil, statsCols = Seq("id"))
    t.deleteKeysMor("tab", Seq(50L).toDF("id"))
    // pruned read over a MOR chain: falls back to the resolved scan —
    // and must NOT resurrect the deleted row
    assert(t.readPruned("tab", "id", 40L, 60L).filter($"id" === 50L).count() == 0)
    // metadata-only counts refuse rather than over-count
    val e = intercept[IllegalArgumentException](t.fastCount("tab"))
    assert(e.getMessage.contains("merge-on-read"))
    intercept[IllegalArgumentException](t.manifest("tab"))
    t.materialize("tab")
    assert(t.chainKinds("tab", t.currentVersion("tab")) == Seq("full"))
    assert(t.fastCount("tab") == 99L)
    // pruning is file-skipping; the caller's row filter still applies
    assert(t.readPruned("tab", "id", 40L, 60L)
      .filter($"id" >= 40L && $"id" <= 60L).count() == 20)
  }

  test("hidden-partitioned tables: appends derive the layout; partition pruning spans the chain") {
    val (t, _) = newTables()
    val pt = SnapshotTables.PartitionTransform.days("ts")
    val base = Seq(("2024-01-01 10:00:00", 1L), ("2024-01-02 11:00:00", 2L))
      .toDF("ts", "id").withColumn("ts", to_timestamp($"ts"))
    t.overwriteTableTransformed(base, "ev", Seq(pt))
    val delta = Seq(("2024-01-03 09:00:00", 3L)).toDF("ts", "id")
      .withColumn("ts", to_timestamp($"ts"))
    t.append(delta, "ev")
    // the delta segment's directory carries the derived layout
    val v2 = new java.io.File(snapDirOf(t, "ev", 2))
    assert(v2.listFiles().exists(_.getName.startsWith("__p_days_ts=2024-01-03")))
    // hidden column stays concealed; range read prunes across segments
    assert(!t.read("ev").columns.exists(_.startsWith("__p_")))
    val r = t.readPartitionRange("ev", pt, "2024-01-03", "2024-01-04")
    assert(r.select("id").as[Long].collect().toSeq == Seq(3L))
    // the bound lands in PartitionFilters (directory pruning), not a row filter
    val plan = r.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__p_days_ts"))
    // MOR segment on the same table: range read resolves (no pruning) but stays correct
    t.deleteKeysMor("ev", Seq(2L).toDF("id"))
    val all = t.readPartitionRange("ev", pt, "2024-01-01", "2024-01-04")
    assert(all.select("id").as[Long].collect().toSet == Set(1L, 3L))
  }

  test("compact() and optimize() materialize the chain; branches publish materialized") {
    val (t, _) = newTables()
    t.overwriteTable((1 to 100).map(i => (i, s"r$i")).toDF("id", "v"), "tab")
    t.append((101 to 120).map(i => (i, s"r$i")).toDF("id", "v"), "tab")
    t.deleteKeysMor("tab", Seq(1, 2).toDF("id"))
    t.compact("tab")
    assert(t.chainKinds("tab", t.currentVersion("tab")) == Seq("full"))
    assert(t.read("tab").count() == 118)
    // WAP: branch staging appends are delta commits on the branch;
    // publish materializes the branch's RESOLVED state into main
    t.createBranch("tab", "audit")
    t.commitToBranch("tab", "audit", (1 to 50).map(i => (i, s"b$i")).toDF("id", "v"))
    t.appendToBranch("tab", "audit", Seq((51, "b51"), (52, "b52")).toDF("id", "v"))
    assert(t.readBranch("tab", "audit").count() == 52)
    t.publish("tab", "audit")
    assert(t.read("tab").count() == 52)
    assert(t.chainKinds("tab", t.currentVersion("tab")) == Seq("full"))
  }

  test("rollback over a delta head re-commits the RESOLVED content") {
    val (t, _) = newTables()
    t.overwriteTable(Seq((1, "a")).toDF("id", "v"), "tab")
    t.append(Seq((2, "b")).toDF("id", "v"), "tab")
    t.overwriteTable(Seq((9, "z")).toDF("id", "v"), "tab") // v3: bad full commit
    t.rollback("tab", 2) // roll back to the delta-headed version
    assert(t.read("tab").as[(Int, String)].collect().toSet == Set((1, "a"), (2, "b")))
    assert(t.chainKinds("tab", t.currentVersion("tab")) == Seq("full"))
  }

  test("O(delta) step diffs match the generic two-resolution diff for every kind") {
    val (t, _) = newTables()
    t.overwriteTable((1 to 100).map(i => (i, s"r$i")).toDF("id", "v"), "tab") // v1 full
    t.append((101 to 110).map(i => (i, s"r$i")).toDF("id", "v"), "tab")      // v2 append
    t.upsertMor("tab", Seq((5, "up5"), (200, "new200")).toDF("id", "v"), Seq("id")) // v3
    t.deleteKeysMor("tab", Seq(7, 8).toDF("id"))                              // v4
    t.updateMor("tab", Seq("v" -> concat($"v", lit("!"))), $"id" <= 2)        // v5 patch
    t.deleteWhereMor("tab", $"id" === 9)                                      // v6 patch, del only
    def genericDiff(v: Int): Set[String] = {
      val from = t.readVersion("tab", v - 1); val to = t.readVersion("tab", v)
      (to.exceptAll(from).withColumn("__change", lit("insert"))
        .unionByName(from.exceptAll(to).withColumn("__change", lit("delete"))))
        .collect().map(_.toString).toSet
    }
    def genericKeyed(v: Int): Set[String] = {
      val from = t.readVersion("tab", v - 1); val to = t.readVersion("tab", v)
      def packed(df: org.apache.spark.sql.DataFrame, as: String) =
        df.select(col("id"), struct(col("v")).as(as))
      packed(from, "__old").join(packed(to, "__new"), Seq("id"), "full_outer")
        .withColumn("__change",
          when(col("__old").isNull, "insert").when(col("__new").isNull, "delete")
            .when(!(col("__old") <=> col("__new")), "update"))
        .filter(col("__change").isNotNull)
        .collect().map(_.toString).toSet
    }
    (2 to 6).foreach { v =>
      val fast = t.stepDiffFast("tab", v)
      assert(fast.isDefined, s"v$v should have a fast multiset step diff")
      assert(fast.get.collect().map(_.toString).toSet == genericDiff(v), s"multiset v$v")
      val fastK = t.stepDiffKeyedFast("tab", v, Seq("id"))
      assert(fastK.isDefined, s"v$v should have a fast keyed step diff")
      assert(fastK.get.collect().map(_.toString).toSet == genericKeyed(v), s"keyed v$v")
    }
    // full commits have no fast path
    t.materialize("tab") // v7
    assert(t.stepDiffFast("tab", 7).isEmpty)
  }

  test("append step diffs read ONLY the delta segment; all-append ranges never scan the base") {
    val (t, root) = newTables()
    t.overwriteTable((1 to 1000).map(i => (i, s"r$i")).toDF("id", "v"), "tab")
    t.append(Seq((1001, "x")).toDF("id", "v"), "tab")
    t.append(Seq((1002, "y")).toDF("id", "v"), "tab")
    val step = t.diff("tab", 1, 2)
    assert(step.inputFiles.forall(_.contains(segOf(t, "tab", 2))), "step diff must not open base files")
    assert(step.select("id").as[Int].collect().toSeq == Seq(1001))
    val range = t.diff("tab", 1, 3) // all-append range: union of segments
    assert(range.inputFiles.forall(f => f.contains(segOf(t, "tab", 2)) || f.contains(segOf(t, "tab", 3))))
    assert(range.select("id", "__change").as[(Int, String)].collect().toSet ==
      Set((1001, "insert"), (1002, "insert")))
    val _ = root
  }

  // ---------------------------------------------------------------
  // Minor compaction (compactDeltas): fold the chain's deltas into ONE
  // equivalent segment at O(Σ deltas) — the base never read or
  // rewritten — instead of the O(table) materialize.
  // ---------------------------------------------------------------

  test("minor compaction folds an all-append chain into one O(Σ deltas) append segment") {
    val (t, _) = newTables()
    t.overwriteTable((1 to 1000).map(i => (i.toLong, s"r$i")).toDF("id", "v"), "tab", Nil,
      statsCols = Seq("id"))
    t.append((1001L to 1010L).map(i => (i, s"r$i")).toDF("id", "v"), "tab") // v2
    t.append((1011L to 1015L).map(i => (i, s"r$i")).toDF("id", "v"), "tab") // v3
    assert(t.compactDeltas("tab"))                                          // v4 fold
    assert(t.currentVersion("tab") == 4)
    assert(t.chainKinds("tab", 4) == Seq("full", "append"))
    // the folded segment physically holds ONLY the 15 delta rows
    assert(spark.read.parquet(snapDirOf(t, "tab", 4)).count() == 15)
    assert(t.read("tab").count() == 1015)
    // pre-fold versions still time travel through their own chains
    assert(t.readVersion("tab", 2).count() == 1010)
    assert(t.readVersion("tab", 3).count() == 1015)
    // append-only metadata surfaces survive the fold
    assert(t.fastCount("tab") == 1015L)
    assert(t.readPruned("tab", "id", 1001L, 1015L).inputFiles.length <
      t.read("tab").inputFiles.length)
    // a fold is content-preserving: its step diff is EMPTY at zero scans
    val step = t.stepDiffFast("tab", 4)
    assert(step.isDefined && step.get.count() == 0)
    // nothing further to fold
    assert(!t.compactDeltas("tab"))
  }

  test("minor compaction folds keyed chains (append+upsert+delete) into one mor_revise; matches COW") {
    val (t, _) = newTables()
    val base = (1 to 100).map(i => (i, s"r$i")).toDF("id", "v")
    // the same op sequence on a COW twin is the truth
    t.overwriteTable(base, "cow")
    t.overwriteTable(base, "mor")
    // append new ids, upsert over base+appended, delete across both
    t.append(Seq((101, "a101"), (102, "a102")).toDF("id", "v"), "mor")
    t.overwriteTable(t.read("cow").unionByName(Seq((101, "a101"), (102, "a102")).toDF("id", "v")), "cow")
    t.upsertMor("mor", Seq((5, "up5"), (101, "up101"), (200, "new200")).toDF("id", "v"), Seq("id"))
    t.merge("cow", Seq((5, "up5"), (101, "up101"), (200, "new200")).toDF("id", "v"), Seq("id"))
    t.deleteKeysMor("mor", Seq(7, 102, 200).toDF("id"))
    t.delete("cow", $"id".isin(7, 102, 200))
    assert(t.chainKinds("mor", t.currentVersion("mor")) ==
      Seq("full", "append", "mor_upsert", "mor_delete"))
    val before = t.read("mor").as[(Int, String)].collect().toSet
    assert(t.compactDeltas("mor"))
    val cur = t.currentVersion("mor")
    assert(t.chainKinds("mor", cur) == Seq("full", "mor_revise"))
    // content unchanged by the fold, and equal to the COW truth
    assert(t.read("mor").as[(Int, String)].collect().toSet == before)
    assert(before == t.read("cow").as[(Int, String)].collect().toSet)
    // the folded segment holds delta-sized data: del/ keys ⊆ touched
    // keys, add/ the surviving new rows — never the 100-row base
    val foldDir = snapDirOf(t, "mor", cur)
    assert(spark.read.parquet(s"$foldDir/del").count() <= 6) // 5,101,200,7,102 distinct
    assert(spark.read.parquet(s"$foldDir/add").count() <= 4) // a101(upserted), up5, up101 survive…
    // keyed CDC across the fold still classifies correctly
    val d = t.diffKeyed("mor", 1, cur, Seq("id")).select("id", "__change")
      .as[(Int, String)].collect().toSet
    assert(d == Set((5, "update"), (7, "delete"), (101, "insert")))
  }

  test("minor compaction folds patch chains via multiset algebra, duplicates included") {
    val (t, _) = newTables()
    // duplicate rows make the multiset algebra earn its keep
    val base = Seq((1, "a"), (1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
    t.overwriteTable(base, "tab")
    t.updateMor("tab", Seq("v" -> concat($"v", lit("!"))), $"id" === 1) // v2: both copies
    t.deleteWhereMor("tab", $"id" === 2)                               // v3: del-only patch
    t.updateMor("tab", Seq("v" -> concat($"v", lit("?"))), $"id" === 1) // v4: touches v2's adds
    val before = t.read("tab").as[(Int, String)].collect().toSeq.sorted
    assert(before == Seq((1, "a!?"), (1, "a!?"), (3, "c")))
    assert(t.compactDeltas("tab"))
    val cur = t.currentVersion("tab")
    assert(t.chainKinds("tab", cur) == Seq("full", "mor_patch"))
    assert(t.read("tab").as[(Int, String)].collect().toSeq.sorted == before)
    // fold step invisible to CDC
    assert(t.stepDiffFast("tab", cur).exists(_.count() == 0))
    assert(t.stepDiffKeyedFast("tab", cur, Seq("id")).exists(_.count() == 0))
  }

  test("chain budget prefers the fold; materializeRatio escalates to a full rewrite") {
    val (t, _) = newTables()
    spark.conf.set("graft.delta.maxChainLength", "3")
    try {
      t.overwriteTable((1 to 1000).map(i => (i, s"r$i")).toDF("id", "v"), "tab")
      (1 to 6).foreach(i => t.append(Seq((1000 + i, "x")).toDF("id", "v"), "tab"))
      // v1 full, v2 v3 appends (chain=3) → budget folds (v4), append v5
      // (chain=3 again) → fold v6, append v7 …: the base is NEVER
      // rewritten — no new "full" version after v1
      assert(t.read("tab").count() == 1006)
      (2 to t.currentVersion("tab")).foreach(v =>
        assert(t.chainKinds("tab", v).count(_ == "full") == 1 &&
          t.chainKinds("tab", v).head == "full"))
      assert((1 to t.currentVersion("tab")).forall(v => t.chainKinds("tab", v).length <= 3))
      // with a tiny ratio the same budget MATERIALIZES instead
      spark.conf.set("graft.delta.materializeRatio", "0.000001")
      val v0 = t.currentVersion("tab")
      (1 to 3).foreach(i => t.append(Seq((2000 + i, "y")).toDF("id", "v"), "tab"))
      val kindsNow = (v0 + 1 to t.currentVersion("tab")).map(v =>
        t.chainKinds("tab", v).last)
      assert((v0 + 1 to t.currentVersion("tab")).exists(v =>
        t.chainKinds("tab", v) == Seq("full")), s"expected a materialize, saw $kindsNow")
      assert(t.read("tab").count() == 1009)
    } finally {
      spark.conf.unset("graft.delta.maxChainLength")
      spark.conf.unset("graft.delta.materializeRatio")
    }
  }

  test("unfoldable chains (patch+keyed mix, differing key sets) refuse the fold and budget-materialize") {
    val (t, _) = newTables()
    t.overwriteTable((1 to 50).map(i => (i, s"r$i")).toDF("id", "v"), "tab")
    t.deleteKeysMor("tab", Seq(1).toDF("id"))
    t.updateMor("tab", Seq("v" -> lit("z")), $"id" === 2)
    assert(!t.compactDeltas("tab")) // patch + keyed: not foldable
    // differing key sets refuse too
    t.overwriteTable((1 to 50).map(i => (i, s"k$i", s"r$i")).toDF("id", "k", "v"), "tab2")
    t.deleteKeysMor("tab2", Seq(1).toDF("id"))
    t.deleteKeysMor("tab2", Seq("k2").toDF("k"))
    assert(!t.compactDeltas("tab2"))
    // the budget still bounds such chains — by materializing
    spark.conf.set("graft.delta.maxChainLength", "3")
    try {
      t.updateMor("tab", Seq("v" -> lit("w")), $"id" === 3) // chain=3 → next commit materializes
      t.deleteKeysMor("tab", Seq(4).toDF("id"))
      assert(t.chainKinds("tab", t.currentVersion("tab")).take(1) == Seq("full"))
      assert((1 to t.currentVersion("tab")).forall(v => t.chainKinds("tab", v).length <= 3))
      assert(t.read("tab").select("id").as[Int].collect().toSet == ((2 to 50).toSet - 4))
    } finally spark.conf.unset("graft.delta.maxChainLength")
  }

  test("repeated folds re-fold their own revise segment; CDC range diffs skip fold steps") {
    val (t, _) = newTables()
    t.overwriteTable((1 to 100).map(i => (i, s"r$i")).toDF("id", "v"), "tab")
    t.upsertMor("tab", Seq((1, "u1")).toDF("id", "v"), Seq("id"))   // v2
    t.deleteKeysMor("tab", Seq(2).toDF("id"))                        // v3
    assert(t.compactDeltas("tab"))                                   // v4 revise(fold)
    t.upsertMor("tab", Seq((3, "u3"), (101, "n101")).toDF("id", "v"), Seq("id")) // v5
    t.append(Seq((102, "a102")).toDF("id", "v"), "tab")              // v6
    assert(t.compactDeltas("tab"))                                   // v7 re-fold incl. v4
    assert(t.chainKinds("tab", 7) == Seq("full", "mor_revise"))
    assert(t.read("tab").as[(Int, String)].collect().toSet ==
      ((4 to 100).map(i => (i, s"r$i")).toSet ++ Set((1, "u1"), (3, "u3"), (101, "n101"), (102, "a102"))))
    // the full range diff across both folds equals the generic truth
    val got = t.diff("tab", 1, 7).select("id", "v", "__change")
      .as[(Int, String, String)].collect().toSet
    assert(got == Set((1, "r1", "delete"), (1, "u1", "insert"), (2, "r2", "delete"),
      (3, "r3", "delete"), (3, "u3", "insert"), (101, "n101", "insert"), (102, "a102", "insert")))
    // an all-append range WITH a fold step in the middle still takes
    // the segments-only fast path, skipping the fold's segment
    t.overwriteTable((1 to 10).map(i => (i, s"r$i")).toDF("id", "v"), "t2")
    t.append(Seq((11, "a")).toDF("id", "v"), "t2")  // v2
    assert(t.compactDeltas("t2") == false)           // single delta: nothing to fold
    t.append(Seq((12, "b")).toDF("id", "v"), "t2")  // v3
    assert(t.compactDeltas("t2"))                    // v4 fold
    t.append(Seq((13, "c")).toDF("id", "v"), "t2")  // v5
    val range = t.diff("t2", 1, 5)
    assert(range.select("id", "__change").as[(Int, String)].collect().toSet ==
      Set((11, "insert"), (12, "insert"), (13, "insert")))
    assert(range.inputFiles.forall(f =>
      f.contains(segOf(t, "t2", 2)) || f.contains(segOf(t, "t2", 3)) || f.contains(segOf(t, "t2", 5))),
      "range diff must skip the fold segment (v4) and never open the base")
  }

  test("folds on hidden-partitioned tables re-derive the layout; partition range reads stay correct") {
    val (t, _) = newTables()
    val pt = SnapshotTables.PartitionTransform.days("ts")
    def day(d: String, id: Long) =
      Seq((s"2024-01-0$d 10:00:00", id)).toDF("ts", "id").withColumn("ts", to_timestamp($"ts"))
    t.overwriteTableTransformed(day("1", 1L), "ev", Seq(pt)) // v1
    t.append(day("2", 2L), "ev") // v2
    t.append(day("3", 3L), "ev") // v3
    assert(t.compactDeltas("ev")) // v4: all-append fold
    // the folded segment carries the derived day layout
    val foldDir = new java.io.File(snapDirOf(t, "ev", 4))
    assert(foldDir.listFiles().exists(_.getName.startsWith("__p_days_ts=2024-01-02")))
    assert(foldDir.listFiles().exists(_.getName.startsWith("__p_days_ts=2024-01-03")))
    // range read prunes across [base, fold] and returns exact rows
    val r = t.readPartitionRange("ev", pt, "2024-01-02", "2024-01-03")
    assert(r.select("id").as[Long].collect().toSet == Set(2L, 3L))
    assert(!t.read("ev").columns.exists(_.startsWith("__p_")))
    // keyed fold on the same table: upsert+delete → revise; resolution
    // (no pruning on MOR) still exact
    t.upsertMor("ev", day("2", 2L).withColumn("id", lit(20L)), Seq("ts"))
    t.deleteKeysMor("ev", day("1", 1L).select("ts"))
    assert(t.compactDeltas("ev"))
    assert(t.chainKinds("ev", t.currentVersion("ev")).last == "mor_revise")
    assert(t.read("ev").select("id").as[Long].collect().toSet == Set(20L, 3L))
    val all = t.readPartitionRange("ev", pt, "2024-01-01", "2024-01-04")
    assert(all.select("id").as[Long].collect().toSet == Set(20L, 3L))
  }

  test("metadata-only ADD/DROP COLUMN: empty commit, declared schema governs reads, rewrite restores fast paths") {
    val (t, _) = newTables()
    t.overwriteTable((1 to 1000).map(i => (i, s"r$i")).toDF("id", "v"), "tab", Nil,
      statsCols = Seq("id"))
    t.addColumn("tab", "score", org.apache.spark.sql.types.DoubleType) // v2: EMPTY commit
    val v2 = new java.io.File(snapDirOf(t, "tab", 2))
    assert(v2.listFiles() == null || v2.listFiles().forall(!_.getName.endsWith(".parquet")),
      "ADD COLUMN must write no data files")
    // declared schema governs: new column reads NULL everywhere
    assert(t.read("tab").columns.toSeq == Seq("id", "v", "score"))
    assert(t.read("tab").filter($"score".isNotNull).count() == 0)
    assert(t.read("tab").count() == 1000)
    // prior version keeps its narrower schema
    assert(!t.readVersion("tab", 1).columns.contains("score"))
    // appends carry the column; keyed MOR composes over the mixed chain
    t.append(Seq((1001, "x", 0.5)).toDF("id", "v", "score"), "tab") // v3
    t.deleteKeysMor("tab", Seq(1).toDF("id"))                       // v4
    assert(t.read("tab").count() == 1000)
    assert(t.read("tab").filter($"score".isNotNull).count() == 1)
    // pruned reads fall back RESOLVED on evolved chains — correct and
    // schema-true, just unpruned until the rewrite
    val pruned = t.readPruned("tab", "id", 2L, 10L)
    assert(pruned.columns.contains("score"))
    assert(pruned.filter($"id".between(2, 10)).count() == 9)
    // CDC across an ADDITIVE evolution follows Delta CDF: the ALTER
    // itself emits no change rows (zero scans), and a range spanning
    // it NULL-FILLS pre-evolution rows in the added column
    assert(t.diff("tab", 1, 2).isEmpty)
    assert(t.diff("tab", 1, 2).columns.contains("score"))
    val spanned = t.diffKeyed("tab", 1, 4, Seq("id"))
      .select($"id", $"__change", $"__new.score".as("score")).collect()
      .map(r => (r.getInt(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(spanned == Set((1, "delete", None), (1001, "insert", Some(0.5))),
      spanned.toString) // unchanged rows (score null on both sides) emit nothing
    // a full rewrite re-aligns files with the schema: fast paths return
    t.materialize("tab") // v5
    assert(t.chainKinds("tab", 5) == Seq("full"))
    assert(t.fastCount("tab") == 1000L)
    assert(t.readPruned("tab", "id", 2L, 10L).inputFiles.length <=
      t.read("tab").inputFiles.length)
    // DROP projects away, old files untouched; prior versions unaffected
    t.dropColumn("tab", "v") // v6
    assert(t.read("tab").columns.toSeq == Seq("id", "score"))
    assert(t.readVersion("tab", 5).columns.contains("v"))
    // CDC across a DESTRUCTIVE evolution stays LOUD — dropping a
    // column from the diff's shape would silently corrupt consumers
    val loud = intercept[IllegalArgumentException](t.diff("tab", 5, 6))
    assert(loud.getMessage.contains("destructive schema change"))
    intercept[IllegalArgumentException](t.diffKeyed("tab", 5, 6, Seq("id")))
    // refusals
    intercept[IllegalArgumentException](t.dropColumn("tab", "nope"))
    intercept[IllegalArgumentException](
      t.addColumn("tab", "id", org.apache.spark.sql.types.LongType))
  }

  test("column metadata that mimics commit fields never corrupts version metadata parsing") {
    val (t, _) = newTables()
    // a column whose FIELD METADATA carries "kind"/"base"/"fold" keys —
    // these land inside the schema json embedded in the version meta
    // file; the commit-field parser must never read them
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("kind", "append").putLong("base", 1L).putBoolean("fold", true).build()
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
      .select(col("id"), col("v").as("v", md))
    t.overwriteTable(df, "tab") // v1 FULL commit
    assert(t.chainKinds("tab", 1) == Seq("full"))
    t.overwriteTable(df.filter($"id" === 1), "tab") // v2 FULL commit
    assert(t.chainKinds("tab", 2) == Seq("full"))
    // a full step has no fast diff (and is NOT misread as an empty fold)
    assert(t.stepDiffFast("tab", 2).isEmpty)
    assert(t.diff("tab", 1, 2).select("id", "__change").as[(Int, String)].collect().toSet ==
      Set((2, "delete")))
  }

  test("txnId makes batch commits exactly-once: replays are no-ops, across bootstrap, kinds and folds") {
    val (t, _) = newTables()
    // bootstrap append with a txn, then replay it
    t.append(Seq((1, "a")).toDF("id", "v"), "tab", txnId = Some("job:1"))
    t.append(Seq((1, "a")).toDF("id", "v"), "tab", txnId = Some("job:1"))
    assert(t.currentVersion("tab") == 1 && t.read("tab").count() == 1)
    // delta append replayed → one version, one row
    t.append(Seq((2, "b")).toDF("id", "v"), "tab", txnId = Some("job:2"))
    t.append(Seq((2, "b")).toDF("id", "v"), "tab", txnId = Some("job:2"))
    assert(t.currentVersion("tab") == 2 && t.read("tab").count() == 2)
    // a different txn lands normally
    t.append(Seq((3, "c")).toDF("id", "v"), "tab", txnId = Some("job:3"))
    assert(t.read("tab").count() == 3)
    // upsert replay keeps the FIRST run's effect
    t.upsertMor("tab", Seq((1, "A")).toDF("id", "v"), Seq("id"), txnId = Some("up:1"))
    t.upsertMor("tab", Seq((1, "SHOULD-NOT-LAND")).toDF("id", "v"), Seq("id"), txnId = Some("up:1"))
    assert(t.read("tab").filter($"id" === 1).as[(Int, String)].head()._2 == "A")
    // delete replay is a no-op even with a different payload
    t.deleteKeysMor("tab", Seq(3).toDF("id"), txnId = Some("del:1"))
    val v0 = t.currentVersion("tab")
    t.deleteKeysMor("tab", Seq(2).toDF("id"), txnId = Some("del:1"))
    assert(t.currentVersion("tab") == v0 && t.read("tab").count() == 2)
    // a fold keeps the txn-carrying versions retained: replays stay no-ops
    assert(t.compactDeltas("tab"))
    t.append(Seq((5, "e")).toDF("id", "v"), "tab", txnId = Some("job:2"))
    assert(t.read("tab").filter($"id" === 5).count() == 0)
    // unsafe txn ids are refused loudly
    intercept[IllegalArgumentException](
      t.append(Seq((9, "z")).toDF("id", "v"), "tab", txnId = Some("bad txn!")))
  }

  test("write mode is a table property: default cow, settable, validated") {
    val (t, _) = newTables()
    t.overwriteTable(Seq((1, "a")).toDF("id", "v"), "tab")
    assert(t.writeMode("tab") == "cow")
    t.setWriteMode("tab", "mor")
    assert(t.writeMode("tab") == "mor")
    intercept[IllegalArgumentException](t.setWriteMode("tab", "fancy"))
  }
}
