package graft.io

import graft.SparkSpec
import graft.catalog.SnapshotCatalog
import graft.io.SnapshotTables.PartitionTransform
import org.apache.spark.sql.functions.rand

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** The seven standing table properties (`metadata/<file>` sidecars):
  * their on-disk bytes, their one strict parse, validation of a SET
  * before any write, and how they cross a branch fork. */
class TablePropertiesSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0

  /** (catalog name, root) of a fresh SnapshotCatalog. */
  private def newCatalog(): (String, String) = synchronized {
    n += 1
    val cat = s"tpspec$n"
    val root = Files.createTempDirectory(s"graft-tp-$cat").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  private def put(file: String, text: String): Unit =
    Files.write(Paths.get(file), text.getBytes(UTF_8))

  private def bytesOf(file: String): String = new String(Files.readAllBytes(Paths.get(file)), UTF_8)

  private def showProps(table: String): Map[String, String] =
    spark.sql(s"SHOW TBLPROPERTIES $table").collect().map(r => r.getString(0) -> r.getString(1)).toMap

  // the bytes each setter writes for these values
  private val onDisk = Seq(
    "write_mode" -> "mor",
    "sort_order" -> "id,k",
    "retention" -> "20",
    "stats_cols" -> "id,k",
    "sketch_cols" -> "k",
    "partition_transforms" -> "days:ts,bucket8:id,trunc3:k,m3bucket4:id")

  test("each property file's bytes read back through the getters and SHOW TBLPROPERTIES") {
    val (c, root) = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    spark.sql(s"CREATE TABLE $c.dw.t (id BIGINT, k STRING, ts TIMESTAMP)")
    spark.sql(s"INSERT INTO $c.dw.t VALUES (1, 'a', TIMESTAMP '2024-01-02 03:04:05')")
    onDisk.foreach { case (f, text) => put(s"$root/dw/t/metadata/$f", text) }
    val st = new SnapshotTables(spark, s"$root/dw")
    assert(st.writeMode("t") == "mor")
    assert(st.sortOrder("t") == Seq("id", "k"))
    assert(st.retentionFor("t") == 20)
    assert(st.statsColsFor("t") == Seq("id", "k"))
    assert(st.sketchColsFor("t") == Seq("k"))
    assert(st.persistedTransforms("t").map(_.name) ==
      Seq("__p_days_ts", "__p_bucket8_id", "__p_trunc3_k", "__p_m3bucket4_id"))
    val props = showProps(s"$c.dw.t")
    assert(props.get("graft.write.mode").contains("mor"), props)
    assert(props.get("graft.write.sort_by").contains("id,k"), props)
    assert(props.get("graft.retention.versions").contains("20"), props)
    assert(props.get("graft.stats.columns").contains("id,k"), props)
    assert(props.get("graft.sketch.columns").contains("k"), props)
  }

  test("each setter writes those bytes, and clearing deletes the file") {
    val root = Files.createTempDirectory("graft-tp").toString
    val st = new SnapshotTables(spark, root)
    st.overwriteTable(Seq((1L, "a", java.sql.Timestamp.valueOf("2024-01-02 03:04:05")))
      .toDF("id", "k", "ts"), "t")
    st.setWriteMode("t", "mor")
    st.setSortOrder("t", Seq("id", "k"))
    st.setRetention("t", Some(20))
    st.setStatsCols("t", Seq("id", "k"))
    st.setSketchCols("t", Seq("k"))
    st.evolvePartitioning("t", Seq(PartitionTransform.days("ts"), PartitionTransform.bucket(8, "id"),
      PartitionTransform.truncate(3, "k"), PartitionTransform.bucketMurmur3(4, "id")))
    onDisk.foreach { case (f, text) => assert(bytesOf(s"$root/t/metadata/$f") == text, f) }
    st.setSortOrder("t", Nil)
    st.setRetention("t", None)
    st.setStatsCols("t", Nil)
    st.setSketchCols("t", Nil)
    st.evolvePartitioning("t", Nil)
    Seq("sort_order", "retention", "stats_cols", "sketch_cols", "partition_transforms")
      .foreach(f => assert(!new java.io.File(s"$root/t/metadata/$f").exists(), f))
  }

  test("an unreadable retention override fails loudly, and the commit after it expires nothing") {
    val root = Files.createTempDirectory("graft-tp").toString
    val st = new SnapshotTables(spark, root) // store default: 10 predecessors
    st.overwriteTable(Seq(1L).toDF("id"), "t")
    st.setRetention("t", Some(20))
    (2 to 13).foreach(i => st.overwriteTable(Seq(i.toLong).toDF("id"), "t"))
    assert(st.history("t") == (1 to 13))
    put(s"$root/t/metadata/retention", "twenty")
    st.overwriteTable(Seq(14L).toDF("id"), "t")
    // falling back to the store default would have dropped v1..v3
    assert(st.history("t") == (1 to 14))
    val e = intercept[IllegalStateException](st.retentionFor("t"))
    assert(e.getMessage.contains("retention") && e.getMessage.contains("twenty"), e.getMessage)
  }

  test("a write_mode file other than cow/mor fails loudly instead of running DML as copy-on-write") {
    val (c, root) = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    spark.sql(s"CREATE TABLE $c.dw.t AS SELECT id FROM range(10)")
    put(s"$root/dw/t/metadata/write_mode", "merge-on-read")
    val st = new SnapshotTables(spark, s"$root/dw")
    val e = intercept[IllegalStateException](st.writeMode("t"))
    assert(e.getMessage.contains("write_mode") && e.getMessage.contains("merge-on-read"), e.getMessage)
    val v = st.currentVersion("t")
    intercept[Exception](spark.sql(s"DELETE FROM $c.dw.t WHERE id = 3").collect())
    assert(st.currentVersion("t") == v && st.read("t").count() == 10)
  }

  test("stats and sketch columns from their files parse like every other read: trimmed") {
    val root = Files.createTempDirectory("graft-tp").toString
    val st = new SnapshotTables(spark, root)
    st.overwriteTable(Seq((1L, "a"), (2L, "b")).toDF("id", "k"), "t")
    put(s"$root/t/metadata/stats_cols", "id, k")
    st.overwriteTable(Seq((3L, "c"), (4L, "d")).toDF("id", "k"), "t")
    assert(st.manifest("t").select("column").as[String].collect().toSet == Set("id", "k"))
  }

  test("ALTER SET TBLPROPERTIES validates every value before it writes any") {
    val (c, _) = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    spark.sql(s"CREATE TABLE $c.dw.t AS SELECT id FROM range(10)")
    intercept[Exception](spark.sql(
      s"ALTER TABLE $c.dw.t SET TBLPROPERTIES ('graft.write.mode'='mor', 'graft.write.sort_by'='nope')"))
    assert(showProps(s"$c.dw.t").get("graft.write.mode").contains("cow"))
    intercept[Exception](spark.sql(
      s"ALTER TABLE $c.dw.t SET TBLPROPERTIES ('graft.retention.versions'='3', 'graft.stats.columns'='nope')"))
    assert(showProps(s"$c.dw.t").get("graft.retention.versions").contains("10"))
    // an unsupported key is refused with a message naming every supported one
    val e = intercept[Exception](spark.sql(s"ALTER TABLE $c.dw.t SET TBLPROPERTIES ('graft.nope'='1')"))
    Seq("graft.write.mode", "graft.write.sort_by", "graft.retention.versions",
      "graft.stats.columns", "graft.sketch.columns").foreach(k => assert(e.getMessage.contains(k), e.getMessage))
  }

  test("a branch commit on a table with a sort order stages sorted, disjoint files") {
    val root = Files.createTempDirectory("graft-tp").toString
    val st = new SnapshotTables(spark, root)
    spark.conf.set("graft.write.targetFileBytes", (16L << 10).toString)
    try {
      st.overwriteTable(spark.range(0, 20000).toDF("id"), "t")
      st.setSortOrder("t", Seq("id"))
      st.createBranch("t", "b")
      st.commitToBranch("t", "b", spark.range(0, 20000).toDF("id").orderBy(rand(7)).repartition(4))
      val files = st.readBranch("t", "b").inputFiles
      assert(files.length >= 2, s"expected several files, got ${files.length}")
      val spans = files.map { f =>
        val r = spark.read.parquet(f).selectExpr("min(id)", "max(id)").head()
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
      spans.sliding(2).foreach {
        case Array(a, b) => assert(b._1 > a._2, s"files overlap: $a vs $b")
        case _ =>
      }
    } finally spark.conf.unset("graft.write.targetFileBytes")
  }
}
