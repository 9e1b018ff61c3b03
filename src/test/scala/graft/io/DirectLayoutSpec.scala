package graft.io

import graft.SparkSpec

/** The object-store-safe commit layout, the only one: data files are
  * written ONCE into the table's pool and the metadata CAS is the
  * entire commit — no rename anywhere in commit, publish, fold or
  * rollback. On S3-family stores rename is a server-side COPY, so a
  * stage-then-rename protocol would pay O(data) per publish; this
  * layout is Iceberg's own answer (write-once files + manifests that
  * point at them) carried onto this format. Every test here that
  * claims "zero data bytes moved" PROVES it on the file system: the
  * (path, length, mtime) triple of every data file is captured before
  * the operation and asserted bit-identical after. */
class DirectLayoutSpec extends SparkSpec {
  import spark.implicits._

  private def newRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-direct").toString

  private def newTables(retention: Int = 10) =
    new SnapshotTables(spark, newRoot(), previousVersionsMax = retention)

  /** (path, length, mtime) of every parquet data file under `dir` —
    * the identity a write-once file keeps for life. */
  private def dataFiles(dir: String): Set[(String, Long, Long)] = {
    val base = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(base)) return Set.empty
    val out = scala.collection.mutable.Set.empty[(String, Long, Long)]
    java.nio.file.Files.walk(base).forEach { p =>
      val n = p.getFileName.toString
      if (n.endsWith(".parquet") && java.nio.file.Files.isRegularFile(p) &&
          !p.toString.contains("/metadata/")) // manifests are metadata, not data
        out += ((p.toString, java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis))
    }
    out.toSet
  }

  test("direct commits: write-once pool dirs, no version-line data, reads/time-travel/history exact") {
    val root = newRoot()
    val t = new SnapshotTables(spark, root)
    t.overwriteTable(Seq((1, "a"), (2, "b")).toDF("id", "v"), "tab")
    t.overwriteTable(Seq((3, "c")).toDF("id", "v"), "tab")
    assert(t.currentVersion("tab") == 2)
    assert(t.history("tab") == Seq(1, 2))
    assert(t.read("tab").as[(Int, String)].collect().toSet == Set((3, "c")))
    assert(t.readVersion("tab", 1).as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "b")))
    // the version line holds NO data at all — only the pool does
    assert(!new java.io.File(s"$root/tab/snapshots").exists(),
      "direct layout must never create version-line data dirs")
    assert(t.read("tab").inputFiles.forall(_.contains("/tab/data/")),
      t.read("tab").inputFiles.mkString(","))
    // versionHistory/timestamp travel work off the meta files
    assert(t.versionHistory("tab").map(_._1) == Seq(1, 2))
  }

  test("direct append/MOR chain: O(delta) commits, resolution, fold and materialize — base files never touched") {
    spark.conf.set("graft.delta.maxChainLength", "100")
    try {
      val root = newRoot()
      val t = new SnapshotTables(spark, root)
      t.overwriteTable((1 to 1000).map(i => (i, s"r$i")).toDF("id", "v"), "tab")
      val baseFiles = dataFiles(s"$root/tab")
      t.append(Seq((1001, "new")).toDF("id", "v"), "tab")
      t.upsertMor("tab", Seq((1, "up")).toDF("id", "v"), Seq("id"))
      t.deleteKeysMor("tab", Seq(2).toDF("id"))
      assert(t.chainKinds("tab", t.currentVersion("tab")) ==
        Seq("full", "append", "mor_upsert", "mor_delete"))
      assert(t.read("tab").count() == 1000) // +1 insert, -1 delete
      assert(t.read("tab").filter($"id" === 1).select("v").head().getString(0) == "up")
      // the base's write-once files are bit-identical after 3 commits
      assert(baseFiles.subsetOf(dataFiles(s"$root/tab")),
        "delta commits must never rewrite or move base files")
      // fold (minor compaction) writes a NEW folded segment but still
      // never touches the base
      assert(t.compactDeltas("tab"))
      assert(baseFiles.subsetOf(dataFiles(s"$root/tab")))
      assert(t.read("tab").count() == 1000)
      // materialize rewrites — content identical, still no snapshots/ dir
      t.materialize("tab")
      assert(t.read("tab").count() == 1000)
      assert(!new java.io.File(s"$root/tab/snapshots").exists())
    } finally spark.conf.unset("graft.delta.maxChainLength")
  }

  test("direct WAP publish moves ZERO data bytes: main adopts the branch commit's pool dir by reference") {
    val root = newRoot()
    val t = new SnapshotTables(spark, root)
    t.overwriteTable(Seq((1, "a")).toDF("id", "v"), "tab")
    t.createBranch("tab", "wip")
    t.commitToBranch("tab", "wip", Seq((1, "a"), (2, "staged")).toDF("id", "v"))
    // branch data went into the PARENT pool (publish-by-reference seam)
    val before = dataFiles(s"$root/tab")
    assert(t.readBranch("tab", "wip").count() == 2)
    val v = t.publish("tab", "wip")
    // zero data bytes moved: the exact same (path, len, mtime) set,
    // minus nothing, plus nothing
    assert(dataFiles(s"$root/tab") == before,
      "publish must not create, move or rewrite any data file")
    assert(t.currentVersion("tab") == v)
    assert(t.read("tab").as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "staged")))
    assert(t.branches("tab").isEmpty)
    // the adopted dir is protected from the orphan sweep (reachable
    // from main's meta) even though its branch meta is gone
    val (removedDirs, _) = t.removeOrphans("tab", graceMs = 0L)
    assert(removedDirs == 0)
    assert(t.read("tab").count() == 2)
  }

  test("direct retention: expired versions release their pool dirs; adopted dirs survive while referenced") {
    val root = newRoot()
    val t = new SnapshotTables(spark, root, previousVersionsMax = 1)
    t.overwriteTable(Seq((1, "a")).toDF("id", "v"), "tab")
    t.overwriteTable(Seq((2, "b")).toDF("id", "v"), "tab")
    t.overwriteTable(Seq((3, "c")).toDF("id", "v"), "tab")
    t.overwriteTable(Seq((4, "d")).toDF("id", "v"), "tab")
    // retention=1 predecessor: v1/v2 expired, their pool dirs gone
    assert(t.history("tab") == Seq(3, 4))
    val pool = new java.io.File(s"$root/tab/data")
    assert(pool.listFiles().count(_.isDirectory) == 2,
      pool.listFiles().map(_.getName).mkString(","))
    assert(t.readVersion("tab", 3).as[(Int, String)].head() == ((3, "c")))
  }

  test("reachability GC: a pool dir referenced by ANY retained meta survives every sweep; unreferenced debris goes") {
    val root = newRoot()
    val t = new SnapshotTables(spark, root, previousVersionsMax = 0)
    t.overwriteTable(Seq((1, "a")).toDF("id", "v"), "tab")
    val v1Dir = t.read("tab").inputFiles.head
      .replaceFirst("file:", "").replaceFirst("/[^/]+\\.parquet$", "")
    // simulate a crashed publish: a BRANCH meta still references v1's
    // pool dir after main moves on (the double-reference window)
    val bmetaDir = new java.io.File(s"$root/tab/branches/ghost/metadata")
    bmetaDir.mkdirs()
    val mainMeta = java.nio.file.Paths.get(s"$root/tab/metadata/v00001.json")
    java.nio.file.Files.copy(mainMeta,
      java.nio.file.Paths.get(bmetaDir.toString, "v00001.json"))
    // retention 0: committing v2 expires v1 — but the ghost branch
    // meta still references v1's dir, so the DATA must survive
    t.overwriteTable(Seq((2, "b")).toDF("id", "v"), "tab")
    assert(t.history("tab") == Seq(2))
    assert(new java.io.File(v1Dir).exists(),
      "dropVersion deleted a pool dir another meta still references")
    // and the sweep respects the same reference
    t.removeOrphans("tab", graceMs = 0L)
    assert(new java.io.File(v1Dir).exists())
    // the reference goes away -> the dir is sweepable debris
    java.nio.file.Files.delete(java.nio.file.Paths.get(bmetaDir.toString, "v00001.json"))
    val (removed, _) = t.removeOrphans("tab", graceMs = 0L)
    assert(removed >= 1)
    assert(!new java.io.File(v1Dir).exists())
    assert(t.read("tab").as[(Int, String)].head() == ((2, "b")))
  }

  test("mixed layouts on one table: rename and direct versions coexist, both read and time-travel") {
    val root = newRoot()
    val t = new SnapshotTables(spark, root)
    // v1 as the rename layout left it: data in the version line, a
    // meta naming no data_dir, the pointer at 1
    val md = java.nio.file.Paths.get(root, "tab", "metadata")
    java.nio.file.Files.createDirectories(md)
    Seq((1, "rename")).toDF("id", "v").write.parquet(s"$root/tab/snapshots/v00001")
    java.nio.file.Files.writeString(md.resolve("v00001.json"), """{"version":1,"writer":"w1"}""")
    java.nio.file.Files.writeString(md.resolve("current"), "1")
    t.append(Seq((2, "direct")).toDF("id", "v"), "tab")
    t.append(Seq((3, "rename2")).toDF("id", "v"), "tab")
    assert(t.read("tab").as[(Int, String)].collect().toSet ==
      Set((1, "rename"), (2, "direct"), (3, "rename2")))
    assert(t.readVersion("tab", 2).count() == 2)
    assert(t.history("tab") == Seq(1, 2, 3))
    // v1 lives in the version line, v2 and v3 in the pool
    assert(new java.io.File(s"$root/tab/snapshots/v00001").exists())
    assert(!new java.io.File(s"$root/tab/snapshots/v00002").exists())
    assert(new java.io.File(s"$root/tab/data").exists())
  }

  test("direct commits keep manifests live: stats pruning and fastCount answer from pool files") {
    val root = newRoot()
    val t = new SnapshotTables(spark, root)
    val df = (1 to 4000).map(i => (i.toLong, s"r$i")).toDF("id", "v")
      .repartitionByRange(4, $"id").sortWithinPartitions($"id")
    t.overwriteShaped(df, "tab", Nil, statsCols = Seq("id"))
    val pruned = t.readPruned("tab", "id", 1L, 500L)
    assert(pruned.inputFiles.length < 4,
      s"stats manifest over pool files must skip: ${pruned.inputFiles.length}")
    assert(pruned.filter($"id" <= 500).count() == 500)
    assert(t.fastCount("tab") == 4000L)
    // appends keep the manifest maintained
    t.append(Seq((9999L, "x")).toDF("id", "v"), "tab")
    assert(t.fastCount("tab") == 4001L)
  }

  test("direct concurrent writers: at most one wins each version, losers self-clean their pool dirs") {
    val root = newRoot()
    val t = new SnapshotTables(spark, root, previousVersionsMax = 100)
    t.overwriteTable(Seq((0, "base")).toDF("id", "v"), "tab")
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val losses = new java.util.concurrent.atomic.AtomicInteger(0)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 4).map { i =>
      val th = new Thread(() => {
        gate.await()
        try {
          new SnapshotTables(spark, root, previousVersionsMax = 100)
            .overwriteTable(Seq((i, s"w$i")).toDF("id", "v"), "tab")
          wins.incrementAndGet(); ()
        } catch {
          case _: SnapshotTables.ConcurrentCommitException => losses.incrementAndGet(); ()
        }
      })
      th.start(); th
    }
    gate.countDown()
    threads.foreach(_.join(120000))
    assert(wins.get() + losses.get() == 4)
    assert(wins.get() >= 1)
    // every winner's version reads; the version line never appeared
    assert(t.history("tab").size == 1 + wins.get())
    assert(!new java.io.File(s"$root/tab/snapshots").exists())
    // CAS losers deleted their own staged pool dirs: the pool holds
    // exactly one dir per committed version, zero debris
    val poolDirs = new java.io.File(s"$root/tab/data").listFiles().count(_.isDirectory)
    assert(poolDirs == 1 + wins.get(),
      s"pool holds $poolDirs dirs for ${1 + wins.get()} commits — losers leaked staging")
    t.history("tab").foreach(v => assert(t.readVersion("tab", v).count() == 1))
  }
}
