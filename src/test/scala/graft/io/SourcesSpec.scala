package graft.io

import graft.{JobCount, SparkSpec}
import java.nio.file.{Files, Path}
import java.time.LocalDate

/** `Sources.ndjsonInfer` infers over the prefix's lines, then scans the
  * files with that schema: the same schema as Spark's file-based JSON
  * inference, without the leaf-file re-listing job that inference runs
  * past 32 files. */
class SourcesSpec extends SparkSpec {

  private def inferring(dir: String) = spark.read.option("inferSchema", "true").json(dir)

  private def dirWith(files: Seq[String]): String = {
    val d = Files.createTempDirectory("ndjson")
    files.zipWithIndex.foreach { case (body, i) => Files.write(d.resolve(f"part_$i%03d.json"), body.getBytes("UTF-8")) }
    d.toString
  }

  test("ndjsonInfer's schema equals file-based inference over every bronze shape") {
    val landed = graft.pipeline.BreweryFixture.land(
      Files.createTempDirectory("bronze").toString, LocalDate.of(2024, 1, 2), rows = 900)
    // FIXTURES A.1 variants: files missing columns, files with extra
    // (nested) ones, unparseable numeric strings
    val variants = dirWith(Seq(
      """{"id":"a","name":"x","phone":"not-a-phone","longitude":"n/a"}""",
      """{"id":"b","name":"y","tags":["t1","t2"],"meta":{"k":1,"ok":true}}""" + "\n" +
        """{"id":"c","name":"z","longitude":-97.5,"phone":4058160490}""",
      """{"id":"d","address_2":null}"""))
    val many = dirWith((0 until 40).map(i => s"""{"id":$i,"v":"${"x" * (i % 3)}"}"""))
    val corrupt = dirWith(Seq("""{"id":1,"v":"a"}""" + "\n" + """{"id":2,"v":""", """{"id":3}"""))
    val withEmpty = dirWith(Seq("""{"id":1}""", ""))
    val onlyEmpty = dirWith(Seq(""))
    for (dir <- Seq(landed, variants, many, corrupt, withEmpty, onlyEmpty)) {
      val got = Sources.ndjsonInfer(spark, dir)
      assert(got.schema == inferring(dir).schema, dir)
      assert(got.collect().toSeq.map(_.toString).sorted ==
        inferring(dir).collect().toSeq.map(_.toString).sorted, dir)
    }
    assert(Sources.ndjsonInfer(spark, corrupt).columns.contains("_corrupt_record"))
    // a prefix with no data files keeps the inferring reader's refusal
    val none = Files.createTempDirectory("ndjson-none").toString
    val e = intercept[org.apache.spark.sql.AnalysisException](Sources.ndjsonInfer(spark, none))
    assert(e.getMessage.contains("JSON"), e.getMessage)
  }

  test("ndjsonInfer over more than 32 files starts one job, not a leaf-file listing job first") {
    val dir = dirWith((0 until 36).map(i => s"""{"id":$i,"name":"n$i"}"""))
    val (_, jobs) = JobCount(spark)(Sources.ndjsonInfer(spark, dir).schema)
    assert(jobs.length == 1, jobs)
    assert(!jobs.exists(_.startsWith("Listing leaf files")), jobs)
    // the inferring reader pays the listing job on the same dir
    val (_, parent) = JobCount(spark)(inferring(dir).schema)
    assert(parent.exists(_.startsWith("Listing leaf files")), parent)
  }
}
