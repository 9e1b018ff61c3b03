package graft.io

import graft.SparkSpec
import graft.functions.{IcebergBucketExpr, IcebergMurmur3}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.functions._

/** murmur3 bucket transform — the Iceberg-exact bucket[N] flavor that
  * crosses the jar-free bridge as REAL spec fields. Known-answer
  * vectors are the Iceberg spec's own (Appendix B). */
class IcebergBucketSpec extends SparkSpec {
  import spark.implicits._

  test("known-answer vectors from the Iceberg spec appendix") {
    import IcebergMurmur3._
    import org.apache.spark.unsafe.types.UTF8String
    assert(hashLong(34L) == 2017239379, "int/long 34")
    assert(hashUtf8(UTF8String.fromString("iceberg")) == 1210000089, "string 'iceberg'")
    assert(hashDecimal(org.apache.spark.sql.types.Decimal(
      new java.math.BigDecimal("14.20"))) == -500754589, "decimal 14.20")
    assert(hashLong(java.time.LocalDate.parse("2017-11-16").toEpochDay) == -653330422,
      "date 2017-11-16")
    assert(hashBytes(Array[Byte](0, 1, 2, 3)) == -188683207, "fixed 00 01 02 03")
    assert(hashBytes(Array.empty[Byte]) == 0, "empty input, seed 0")
  }

  test("expression: typed inputs, null passthrough, interpreted == codegen") {
    def bucketCol(c: org.apache.spark.sql.Column, n: Int) =
      GraftSqlBridge.column(IcebergBucketExpr(GraftSqlBridge.expression(c), n))
    val df = Seq((Some(34L), Some("iceberg")), (None, None))
      .toDF("l", "s")
      .select(bucketCol(col("l"), 16).as("bl"), bucketCol(col("s"), 16).as("bs"))
    val rows = df.collect()
    assert(rows(0).getInt(0) == IcebergMurmur3.bucket(2017239379, 16))
    assert(rows(0).getInt(1) == IcebergMurmur3.bucket(1210000089, 16))
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1), "null in, null out")
    // wide input sweep: expression result equals the driver-side fn,
    // with codegen REQUIRED (no silent interpreted fallback)
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val sweep = (1 to 500).map(_.toLong).toDF("l")
        .select(col("l"), bucketCol(col("l"), 32).as("b")).as[(Long, Int)].collect()
      sweep.foreach { case (l, b) =>
        assert(b == IcebergMurmur3.bucket(IcebergMurmur3.hashLong(l), 32))
      }
    } finally spark.conf.unset("spark.sql.codegen.factoryMode")
  }

  test("m3bucket hidden layout: data lands in murmur3 directories, export declares bucket[N]") {
    val root = java.nio.file.Files.createTempDirectory("graft-m3b").toString
    val t = new SnapshotTables(spark, root)
    val df = (1 to 200).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    t.overwriteTableTransformed(df, "tab",
      Seq(SnapshotTables.PartitionTransform.bucketMurmur3(8, "id")))
    // directory values ARE the Iceberg buckets
    val snapDir = new java.io.File(
      new org.apache.hadoop.fs.Path(t.snapshotDirString("tab", t.currentVersion("tab"))).toUri.getPath)
    val dirs = snapDir.listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.forall(_.startsWith("__p_m3bucket8_id=")))
    val seen = dirs.map(_.stripPrefix("__p_m3bucket8_id=").toInt)
    val expected = (1 to 200)
      .map(i => IcebergMurmur3.bucket(IcebergMurmur3.hashLong(i.toLong), 8)).toSet
    assert(seen == expected)

    // export: REAL bucket[8] spec field with the right source id
    val dest = java.nio.file.Files.createTempDirectory("graft-m3b-out").toString
    val mdPath = IcebergExport.export(t, "tab", dest)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val md = om.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(new java.net.URI(mdPath).getPath)))
    val spec0 = md.get("partition-specs").get(0)
    assert(spec0.get("fields").size == 1)
    val f0 = spec0.get("fields").get(0)
    assert(f0.get("transform").asText == "bucket[8]", "must declare the REAL transform")
    assert(f0.get("name").asText == "id_bucket")

    // round-trip read is exact
    val back = IcebergImport.read(spark, dest)
    assert(back.columns.toSet == Set("id", "v"))
    assert(back.as[(Long, String)].collect().toSet ==
      (1 to 200).map(i => (i.toLong, s"v$i")).toSet)

    // manifest partition values match the spec's own bucket function
    val sql = spark.sql(s"SELECT id FROM graft_iceberg_scan('$dest') WHERE id = 42")
    assert(sql.collect().map(_.getLong(0)).toSeq == Seq(42L))
  }

  test("MOR over an m3bucket layout exports and round-trips (deletes as global equality)") {
    val root = java.nio.file.Files.createTempDirectory("graft-m3b-mor").toString
    val t = new SnapshotTables(spark, root)
    t.overwriteTableTransformed((1 to 50).map(i => (i.toLong, s"v$i")).toDF("id", "v"), "tab",
      Seq(SnapshotTables.PartitionTransform.bucketMurmur3(4, "id")))
    t.deleteKeysMor("tab", Seq(7L, 13L).toDF("id"))
    val dest = java.nio.file.Files.createTempDirectory("graft-m3b-mor-out").toString
    IcebergExport.export(t, "tab", dest)
    val back = IcebergImport.read(spark, dest).select("id").as[Long].collect().toSet
    assert(back == (1L to 50L).toSet -- Set(7L, 13L))
    assert(back == t.read("tab").select("id").as[Long].collect().toSet)
  }
}
