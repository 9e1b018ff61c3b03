package graft.io

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A commit's staged write: a frame whose partition columns are all
  * non-null literals is written straight into its one partition's
  * directory, and must commit what `partitionBy` commits. */
class StageWriteSpec extends SparkSpec {
  import spark.implicits._

  private def newTables() = {
    val root = java.nio.file.Files.createTempDirectory("graft-stage").toString
    (new SnapshotTables(spark, root), root)
  }

  /** Partition directories under a table's committed data, each as its
    * path from the first `name=value` component. */
  private def partitionDirs(root: String, table: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root, table))
    try walk.iterator.asScala
      .filter(p => java.nio.file.Files.isDirectory(p) && p.getFileName.toString.contains("="))
      .map { p =>
        val comps = p.iterator.asScala.map(_.toString).toSeq
        comps.drop(comps.indexWhere(_.contains("="))).mkString("/")
      }.toSet
    finally walk.close()
  }

  private def rows(df: DataFrame): Seq[String] =
    df.select("id", "d", "s").collect().map(_.toString).toSeq.sorted

  test("a literal partition commits the dirs and rows a computed one does") {
    val base = spark.range(0, 1000).toDF("id")
    val literal = base.withColumn("d", lit(java.sql.Date.valueOf("2026-01-02")))
      .withColumn("s", lit("a b/c%"))
    // the same values, computed per row: the optimizer cannot fold them
    val computed = base
      .withColumn("d", when($"id" >= 0, lit(java.sql.Date.valueOf("2026-01-02"))))
      .withColumn("s", when($"id" >= 0, lit("a b/c%")))
    val (t, root) = newTables()
    t.overwriteTable(literal, "lit", Seq("d", "s"), statsCols = Seq("id"))
    t.overwriteTable(computed, "cmp", Seq("d", "s"), statsCols = Seq("id"))
    assert(partitionDirs(root, "lit") == partitionDirs(root, "cmp"))
    assert(partitionDirs(root, "lit") == Set("d=2026-01-02", "d=2026-01-02/s=a b%2Fc%25"))
    assert(rows(t.read("lit")) == rows(t.read("cmp")) && rows(t.read("lit")).length == 1000)
    assert(t.fastCount("lit") == 1000L && t.fastCount("cmp") == 1000L)
    val pruned = Seq("lit", "cmp").map(tab => rows(t.readPruned(tab, "id", 10L, 20L).where($"id".between(10, 20))))
    assert(pruned.head == pruned.last && pruned.head.length == 11)
  }

  test("a zero-row literal partition commits no partition dir") {
    val (t, root) = newTables()
    val none = spark.range(0, 10).toDF("id").where($"id" > 100)
      .withColumn("d", lit("2026-01-02")).withColumn("s", lit("x"))
    t.overwriteTable(none, "z", Seq("d", "s"))
    assert(t.currentVersion("z") == 1)
    assert(partitionDirs(root, "z").isEmpty, partitionDirs(root, "z"))
    assert(t.read("z").count() == 0L)
  }

  test("a null literal partition still lands in the default partition") {
    val (t, root) = newTables()
    val df = spark.range(0, 5).toDF("id").withColumn("d", lit(null).cast("string"))
    t.overwriteTable(df, "n", Seq("d"))
    assert(partitionDirs(root, "n") == Set("d=__HIVE_DEFAULT_PARTITION__"))
    assert(t.read("n").where($"d".isNull).count() == 5L)
  }
}
