package graft.io

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** On-disk compatibility with tables written by the stage-then-rename
  * commit layout that preceded the write-once pool: data in the
  * version line (`snapshots/v<NNNNN>/`), version metas that name no
  * `data_dir`, a `current` pointer, and branches whose commits live in
  * their own version line. Such a table must read and time-travel with
  * the same answers, take new commits (as pool commits) on top, expire
  * its old version dirs, and publish an old branch. */
class RenameLayoutCompatSpec extends SparkSpec {
  import spark.implicits._

  private val v1 = Seq((1, "a"), (2, "b"))
  private val v2 = Seq((1, "a"), (2, "b2"), (3, "c"))
  private val v3Delta = Seq((4, "d"))
  private val branchHead = v2 ++ v3Delta ++ Seq((5, "e"))

  /** Lay out table `tab` under `root` byte for byte as the rename
    * layout left it: v1 and v2 full versions, v3 an append delta on v2,
    * the pointer at 3, and branch `wip` forked at 3 holding one full
    * commit in its own version line. */
  private def legacyTable(root: String): Unit = {
    def version(tableDir: String, v: Int, rows: Seq[(Int, String)], extra: String): Unit = {
      val df = rows.toDF("id", "v").coalesce(1)
      df.write.parquet(f"$tableDir/snapshots/v$v%05d")
      Files.createDirectories(Paths.get(tableDir, "metadata"))
      Files.writeString(Paths.get(tableDir, "metadata", f"v$v%05d.json"),
        s"""{"version":$v,"writer":"writer-$v","partition_cols":[]$extra,"schema":${df.schema.json}}""")
    }
    val t = s"$root/tab"
    version(t, 1, v1, "")
    version(t, 2, v2, "")
    version(t, 3, v3Delta, ""","kind":"append","base":2,"files_schema":true""")
    Files.writeString(Paths.get(t, "metadata", "current"), "3")
    val b = s"$t/branches/wip"
    Files.createDirectories(Paths.get(t, "metadata", "refs"))
    Files.writeString(Paths.get(t, "metadata", "refs", "wip"), """{"base":3}""")
    version(b, 1, branchHead, "")
    Files.writeString(Paths.get(b, "metadata", "current"), "1")
  }

  private def rows(df: DataFrame): Set[(Int, String)] = df.as[(Int, String)].collect().toSet

  private def newLegacy(): (SnapshotTables, String) = {
    val root = Files.createTempDirectory("graft-rename-compat").toString
    legacyTable(root)
    (new SnapshotTables(spark, root), root)
  }

  test("a rename-layout table reads and time-travels; a new commit lands in the pool; retention drops its old dirs") {
    val (t, root) = newLegacy()
    assert(t.currentVersion("tab") == 3)
    assert(t.history("tab") == Seq(1, 2, 3))
    assert(t.chainKinds("tab", 3) == Seq("full", "append"))
    assert(rows(t.read("tab")) == (v2 ++ v3Delta).toSet)
    assert(rows(t.readVersion("tab", 1)) == v1.toSet)
    assert(rows(t.readVersion("tab", 2)) == v2.toSet)
    assert(t.snapshotDirString("tab", 1).endsWith("/tab/snapshots/v00001"))
    assert(rows(t.readBranch("tab", "wip")) == branchHead.toSet)

    // a new commit is a pool commit on top of the old line
    t.append(Seq((6, "f")).toDF("id", "v"), "tab")
    assert(t.currentVersion("tab") == 4 && t.history("tab") == Seq(1, 2, 3, 4))
    assert(t.versionMeta("tab", 4).dataDir.isDefined && t.snapshotDirString("tab", 4).contains("/tab/data/"))
    assert(!Files.exists(Paths.get(root, "tab", "snapshots", "v00004")))
    assert(t.chainKinds("tab", 4) == Seq("full", "append", "append"))
    assert(rows(t.read("tab")) == (v2 ++ v3Delta ++ Seq((6, "f"))).toSet)
    assert(rows(t.readVersion("tab", 3)) == (v2 ++ v3Delta).toSet)

    // retention drops the old version dirs once no retained chain and
    // no branch base needs them
    t.dropBranch("tab", "wip")
    t.setRetention("tab", Some(0))
    t.overwriteTable(Seq((7, "g")).toDF("id", "v"), "tab")
    assert(t.history("tab") == Seq(5))
    (1 to 3).foreach { v =>
      assert(!Files.exists(Paths.get(root, "tab", "snapshots", f"v$v%05d")), s"v$v's dir survived")
      assert(!Files.exists(Paths.get(root, "tab", "metadata", f"v$v%05d.json")), s"v$v's meta survived")
    }
    assert(rows(t.read("tab")) == Set((7, "g")))
  }

  test("a branch whose head is a rename-layout commit publishes, materialized on the branch first") {
    val (t, root) = newLegacy()
    val before = rows(t.readBranch("tab", "wip"))
    assert(before == branchHead.toSet)
    val v = t.publish("tab", "wip")
    assert(v == 4 && t.currentVersion("tab") == 4)
    assert(rows(t.read("tab")) == before)
    // main adopted a pool dir written on the branch, not the branch's
    // own version-line dir (which dropBranch deleted)
    assert(t.versionMeta("tab", 4).dataDir.isDefined && t.snapshotDirString("tab", 4).contains("/tab/data/"))
    assert(!Files.exists(Paths.get(root, "tab", "branches", "wip")))
    assert(t.branches("tab").isEmpty)
    // the old line still time-travels beneath the published version
    assert(rows(t.readVersion("tab", 3)) == (v2 ++ v3Delta).toSet)
    assert(rows(t.readVersion("tab", 1)) == v1.toSet)
  }
}
