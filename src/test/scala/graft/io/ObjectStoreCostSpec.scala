package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** X104's asymptotic claim under an S3 cost model: on object stores
  * rename is a billed server-side COPY, so a stage-then-rename commit
  * would pay O(data) per commit, while writing the files once and
  * claiming the version meta pays O(metadata). [[CostModelFileSystem]]
  * meters every rename's bytes through `costfs://` URIs and the spec
  * asserts the cost — not just file identity. The parquet task commit
  * itself renames task temps into place (a real deployment swaps in an
  * S3 direct committer for that half), so the assert isolates the
  * snapshot-layer commit: it must pay 0 extra data bytes on top of the
  * write phase. */
class ObjectStoreCostSpec extends SparkSpec {
  import spark.implicits._

  private def newCostRoot(): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.costfs.impl", classOf[CostModelFileSystem].getName)
    "costfs://" + java.nio.file.Files.createTempDirectory("graft-costfs").toString
  }

  /** Bytes renamed by `body` (global meter, so specs must not run
    * concurrent FS work — SparkSpec suites are sequential). */
  private def renameBytes(body: => Unit): Long = {
    val before = CostModelFileSystem.bytesRenamed.get()
    body
    CostModelFileSystem.bytesRenamed.get() - before
  }

  private def dataBytesUnder(root: String): Long = {
    val base = java.nio.file.Paths.get(root.stripPrefix("costfs://"))
    var n = 0L
    java.nio.file.Files.walk(base).forEach { p =>
      if (p.getFileName.toString.endsWith(".parquet") &&
          java.nio.file.Files.isRegularFile(p) && !p.toString.contains("/metadata/"))
        n += java.nio.file.Files.size(p)
    }
    n
  }

  private def df(n: Int) =
    spark.range(n).select(col("id"), concat(lit("payload-"), col("id")).as("v"))

  test("commit cost: a snapshot commit pays O(metadata) in rename bytes beyond its parquet write") {
    val root = newCostRoot()
    val t = new SnapshotTables(spark, root)
    val total = renameBytes(t.overwriteTable(df(20000), "tab"))
    val data = dataBytesUnder(root)
    assert(data > 0)
    // the write phase costs 2x data (FileOutputCommitter v1: task
    // commit + job commit each rename the files once); the commit must
    // add only metadata on top of that — moving the data once more
    // would reach 3x
    assert(total < data * 5 / 2,
      s"commit=$total should be write-phase-only (~${2 * data})")
    assert(t.read("tab").count() == 20000)
  }

  test("WAP publish cost: direct adopts the branch pool by reference — zero data rename bytes") {
    val root = newCostRoot()
    val t = new SnapshotTables(spark, root)
    t.overwriteTable(df(5000), "tab")
    t.createBranch("tab", "audit")
    t.mergeToBranch("tab", "audit",
      df(5000).withColumn("v", concat(col("v"), lit("-u"))).filter(col("id") < 100),
      keyCols = Seq("id"))
    val branchData = dataBytesUnder(root)
    val publishCost = renameBytes { t.publish("tab", "audit") }
    // the publish may move METADATA (manifest/pointer files), never data:
    // its rename bytes must be tiny relative to the table's data bytes
    assert(publishCost < branchData / 100,
      s"direct publish should move ~0 data bytes: cost=$publishCost data=$branchData")
    assert(t.read("tab").filter(col("v").endsWith("-u")).count() == 100)
  }

  test("scheme-qualified URIs round-trip the whole stack: reads, time travel, pruning") {
    val root = newCostRoot()
    val t = new SnapshotTables(spark, root)
    t.overwriteTable(df(1000), "tab", Nil, statsCols = Seq("id"))
    t.append(df(1000).withColumn("id", col("id") + 10000), "tab")
    assert(t.read("tab").count() == 2000)
    assert(t.readVersion("tab", 1).count() == 1000)
    val pruned = t.readPrunedBox("tab", Seq(("id", 0, 50)))
      .filter(col("id").between(0, 50))
    assert(pruned.count() == 51)
  }
}
