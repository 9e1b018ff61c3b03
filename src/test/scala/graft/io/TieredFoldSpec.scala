package graft.io

import graft.SparkSpec

/** X115 — size-tiered minor compaction: the budget's fold pays
  * O(bytes since the last fold) instead of re-reading the whole delta
  * history. The load-bearing proof is physical: a previous fold's
  * segment files are bit-identical (path, length, mtime) across later
  * tiered folds. */
class TieredFoldSpec extends SparkSpec {
  import spark.implicits._

  private def newTables(retention: Int = 10) = {
    val root = java.nio.file.Files.createTempDirectory("graft-tier").toString
    (new SnapshotTables(spark, root, previousVersionsMax = retention), root)
  }

  /** (path, length, mtime) of every data file under a version dir. */
  private def fileIdentity(t: SnapshotTables, table: String, v: Int): Set[(String, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val d = java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(t.snapshotDirString(table, v)).toUri.getPath)
    java.nio.file.Files.walk(d).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && java.nio.file.Files.isRegularFile(p))
      .map(p => (p.toString, java.nio.file.Files.size(p),
        java.nio.file.Files.getLastModifiedTime(p).toMillis))
      .toSet
  }

  test("tiered fold rewrites only the small-append run; the big segment is untouched") {
    val (t, _) = newTables()
    t.overwriteTable((1 to 500).map(i => (i, s"r$i")).toDF("id", "v"), "tab") // v1 base
    t.append((1001 to 2000).map(i => (i, "big")).toDF("id", "v"), "tab")      // v2: the "big" segment
    val bigBytes = fileIdentity(t, "tab", 2)
    (1 to 3).foreach(i => t.append(Seq((3000 + i, "s")).toDF("id", "v"), "tab")) // v3..v5 smalls
    // tier sized between the smalls and the big segment
    val tier = bigBytes.toSeq.map(_._2).sum // big >= tier, smalls < tier
    assert(t.compactDeltasTiered("tab", tier))
    // content identical, chain = base + big + folded smalls
    assert(t.read("tab").count() == 500 + 1000 + 3)
    assert(t.chainKinds("tab", t.currentVersion("tab")) == Seq("full", "append", "append"))
    // the big segment's files did not move, byte for byte
    assert(fileIdentity(t, "tab", 2) == bigBytes)
    // time travel through the fold still resolves mid-chain
    assert(t.readVersion("tab", 4).count() == 500 + 1000 + 2)
  }

  test("repeated tiered folds never re-read earlier folds (file identity across rounds)") {
    val (t, _) = newTables(retention = 20)
    t.overwriteTable((1 to 100).map(i => (i, s"r$i")).toDF("id", "v"), "tab")
    (1 to 3).foreach(i => t.append(Seq((200 + i, "a")).toDF("id", "v"), "tab"))
    assert(t.compactDeltasTiered("tab", 1L << 20)) // fold #1
    val fold1V = t.currentVersion("tab")
    val fold1Files = fileIdentity(t, "tab", fold1V)
    (1 to 3).foreach(i => t.append(Seq((300 + i, "b")).toDF("id", "v"), "tab"))
    // fold #2 with a tier placed BELOW fold #1's size: fold #1 stays
    val tier = fold1Files.toSeq.map(_._2).sum
    assert(t.compactDeltasTiered("tab", tier))
    assert(fileIdentity(t, "tab", fold1V) == fold1Files)
    assert(t.read("tab").count() == 106)
    assert(t.chainKinds("tab", t.currentVersion("tab")) == Seq("full", "append", "append"))
  }

  test("refusals: short runs, non-append tops, evolved chains") {
    val (t, _) = newTables()
    t.overwriteTable((1 to 50).map(i => (i, s"r$i")).toDF("id", "v"), "tab")
    t.append(Seq((100, "x")).toDF("id", "v"), "tab")
    assert(!t.compactDeltasTiered("tab", Long.MaxValue / 2)) // run of 1: nothing to gain
    // a keyed MOR delta on top blocks the append run
    t.deleteKeysMor("tab", Seq(100).toDF("id"))
    assert(!t.compactDeltasTiered("tab", Long.MaxValue / 2))
    // appends ABOVE the mor segment fold fine — they commute
    t.append(Seq((101, "y")).toDF("id", "v"), "tab")
    t.append(Seq((102, "z")).toDF("id", "v"), "tab")
    assert(t.compactDeltasTiered("tab", Long.MaxValue / 2))
    assert(t.read("tab").count() == 52) // 50 + y + z (x deleted)
    assert(t.chainKinds("tab", t.currentVersion("tab")) ==
      Seq("full", "append", "mor_delete", "append"))
    // evolved chains refuse like the full fold
    t.addColumn("tab", "extra", org.apache.spark.sql.types.StringType)
    t.append(Seq((103, "w", "e"), (104, "q", "e")).toDF("id", "v", "extra"), "tab")
    assert(!t.compactDeltasTiered("tab", Long.MaxValue / 2))
  }

  test("chain budget folds tiered: a big fold output stops being re-read by later budget trips") {
    val (t, _) = newTables(retention = 30)
    spark.conf.set("graft.delta.maxChainLength", "3")
    try {
      t.overwriteTable((1 to 1000).map(i => (i, s"r$i")).toDF("id", "v"), "tab")
      (1 to 6).foreach(i => t.append(Seq((1000 + i, "x")).toDF("id", "v"), "tab"))
      // budget trips folded the chain; identify the latest fold segment
      val vF = t.currentVersion("tab")
      val kinds = t.chainKinds("tab", vF)
      assert(kinds.head == "full" && kinds.length <= 3)
      assert(t.read("tab").count() == 1006)
      // force the fold output to look "big": tier below its size
      val foldSeg = t.history("tab").max
      val foldFiles = fileIdentity(t, "tab", foldSeg)
      spark.conf.set("graft.delta.foldTierBytes", foldFiles.toSeq.map(_._2).sum.toString)
      (1 to 4).foreach(i => t.append(Seq((2000 + i, "y")).toDF("id", "v"), "tab"))
      // budget tripped at least once more; the old fold segment's files
      // were never rewritten and the base was never re-materialized
      assert(fileIdentity(t, "tab", foldSeg) == foldFiles)
      assert(t.read("tab").count() == 1010)
      (2 to t.currentVersion("tab")).foreach(v =>
        assert(t.chainKinds("tab", v).count(_ == "full") == 1))
    } finally {
      spark.conf.unset("graft.delta.maxChainLength")
      spark.conf.unset("graft.delta.foldTierBytes")
    }
  }

  test("CALL compact_deltas(table, tier_mb) drives the tiered fold through SQL") {
    val cat = "tierspec"
    val root = java.nio.file.Files.createTempDirectory("graft-tiercat").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE NAMESPACE $cat.dw")
    spark.sql(s"CREATE TABLE $cat.dw.t (k INT)")
    spark.sql(s"INSERT INTO $cat.dw.t SELECT CAST(id AS INT) FROM range(0, 100)")
    spark.sql(s"INSERT INTO $cat.dw.t VALUES (1000)")
    spark.sql(s"INSERT INTO $cat.dw.t VALUES (1001)")
    val r = spark.sql(s"CALL $cat.system.compact_deltas('dw.t', 64)").collect().head
    assert(r.getInt(0) == 1) // folded
    assert(spark.sql(s"SELECT count(*) FROM $cat.dw.t").collect().head.getLong(0) == 102)
    // the two single-row appends folded into one; history shows the fold head
    val kinds = spark.sql(s"SELECT kind FROM $cat.dw.t.history ORDER BY version")
      .collect().map(_.getString(0)).toSeq
    assert(kinds.last == "append" && kinds.head == "full")
  }

  test("CDC: a tiered fold step contributes zero change rows") {
    val (t, _) = newTables()
    t.overwriteTable((1 to 20).map(i => (i, s"r$i")).toDF("id", "v"), "tab")
    t.append(Seq((21, "a")).toDF("id", "v"), "tab")
    t.append(Seq((22, "b")).toDF("id", "v"), "tab")
    val before = t.currentVersion("tab")
    assert(t.compactDeltasTiered("tab", Long.MaxValue / 2))
    val after = t.currentVersion("tab")
    // the fold emits nothing; a range spanning it sees only real changes
    assert(t.diff("tab", before, after).isEmpty)
    assert(t.diff("tab", 1, after).count() == 2) // the two appended rows
  }
}
