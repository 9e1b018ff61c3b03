package graft.io

import graft.SparkSpec
import SnapshotTables.{RefFile, VersionMeta}

/** The version-metadata codec ([[SnapshotTables.VersionMeta]],
  * [[SnapshotTables.RefFile]]): files written by the earlier
  * string-built renderer still parse to the values its regex reader
  * gave, names with ',' round-trip, and a torn meta is never read as
  * "no such commit". */
class VersionMetaSpec extends SparkSpec {
  import spark.implicits._

  private val schema =
    """{"type":"struct","fields":[{"name":"id","type":"integer","nullable":false,"metadata":{}},""" +
      """{"name":"v","type":"string","nullable":true,"metadata":{"kind":"mor_patch","base":9}}]}"""

  /** The earlier reader, kept as the oracle: regexes over the text
    * before `"schema":`. */
  private def legacyParse(v: Int, raw: String): VersionMeta = {
    val json = raw.indexOf("\"schema\":") match {
      case -1 => raw
      case i => raw.substring(0, i)
    }
    def text(f: String) = s""""$f":"([^"]+)"""".r.findFirstMatchIn(json).map(_.group(1))
    def list(f: String) = s""""$f":\\[([^\\]]*)\\]""".r.findFirstMatchIn(json)
      .map(_.group(1).split(',').toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty))
      .getOrElse(Nil)
    VersionMeta(v,
      kind = text("kind").getOrElse("full"),
      base = "\"base\":(\\d+)".r.findFirstMatchIn(json).map(_.group(1).toInt).getOrElse(v - 1),
      keyCols = list("key_cols"),
      fold = json.contains("\"fold\":true"),
      txn = text("txn"),
      schemaEvolved = json.contains("\"schema_evolved\":true"),
      dataDir = text("data_dir"),
      writer = text("writer").getOrElse(""),
      partitionCols = list("partition_cols"),
      schema = raw.indexOf("\"schema\":") match {
        case -1 => ""
        case i => raw.substring(i + "\"schema\":".length, raw.length - 1)
      })
  }

  // (case, version, the earlier renderer's exact text)
  private val onDisk: Seq[(String, Int, String)] = Seq(
    ("full", 1,
      s"""{"version":1,"writer":"w1","partition_cols":["region"],"schema":$schema}"""),
    ("full bootstrap with txn", 1,
      s"""{"version":1,"writer":"w1","partition_cols":[],"txn":"job:1","schema":$schema}"""),
    ("append with base and txn", 3,
      s"""{"version":3,"writer":"w3","partition_cols":[],"kind":"append","txn":"job:2","base":2,"schema":$schema}"""),
    ("append fold", 5,
      s"""{"version":5,"writer":"w5","partition_cols":["__p_days_ts"],"kind":"append","base":2,"fold":true,"schema":$schema}"""),
    ("mor_upsert", 4,
      s"""{"version":4,"writer":"w4","partition_cols":[],"kind":"mor_upsert","key_cols":["id"],"txn":"up:1","base":3,"schema":$schema}"""),
    ("mor_delete", 6,
      s"""{"version":6,"writer":"w6","partition_cols":[],"kind":"mor_delete","key_cols":["id","v"],"txn":"del-1","base":5,"schema":$schema}"""),
    ("mor_patch", 7,
      s"""{"version":7,"writer":"w7","partition_cols":[],"kind":"mor_patch","base":6,"schema":$schema}"""),
    ("mor_revise fold", 8,
      s"""{"version":8,"writer":"w8","partition_cols":[],"kind":"mor_revise","key_cols":["id"],"base":1,"fold":true,"schema":$schema}"""),
    ("mor_patch fold", 9,
      s"""{"version":9,"writer":"w9","partition_cols":[],"kind":"mor_patch","base":1,"fold":true,"schema":$schema}"""),
    ("schema_evolved", 10,
      s"""{"version":10,"writer":"w10","partition_cols":[],"kind":"append","base":9,"schema_evolved":true,"schema":$schema}"""),
    ("direct layout", 2,
      s"""{"version":2,"writer":"w2","partition_cols":[],"data_dir":"file:/tmp/graft/tab/data/0c1d","schema":$schema}"""),
    ("direct layout delta", 3,
      s"""{"version":3,"writer":"w3","partition_cols":[],"data_dir":"file:/tmp/graft/tab/data/9f2e","kind":"append","base":2,"schema":$schema}"""),
    ("empty object", 2, "{}"),
    ("hand-written orphan", 2, """{"version":2,"writer":"dead-writer"}"""),
    ("declared.json", 0, s"""{"partition_cols":["region","day"],"schema":$schema}"""))

  test("on-disk compatibility: every kind the earlier renderer wrote parses to what its regexes read") {
    onDisk.foreach { case (what, v, text) =>
      val parsed = VersionMeta.parse(v, text)
      assert(parsed == legacyParse(v, text), what)
      if (parsed.schema.nonEmpty)
        assert(org.apache.spark.sql.types.DataType.fromJson(parsed.schema) ==
          org.apache.spark.sql.types.DataType.fromJson(schema), what)
      // and the codec's own rendering parses back to the same values
      assert(VersionMeta.parse(v, parsed.render) == parsed, what)
    }
    // field metadata inside the schema never passes for a commit field
    assert(VersionMeta.parse(1, onDisk.head._3).kind == "full")
    // the ref files
    assert(RefFile.parse("base", """{"base":3}""") == 3)
    assert(RefFile.parse("version", """{"version":2}""") == 2)
    assert(RefFile.render("base", 3) == """{"base":3}""")
    assert(RefFile.render("version", 2) == """{"version":2}""")
    // declared.json renders exactly as before
    assert(VersionMeta(0, partitionCols = Seq("region", "day"), schema = schema).render ==
      s"""{"partition_cols":["region","day"],"schema":$schema}""")
  }

  test("a meta that is not one whole JSON object of the codec's shape does not parse") {
    val full = onDisk.head._3
    Seq("", full.take(full.length / 2), full.take(full.indexOf("\"schema\"")), "[1]",
      """{"version":2,"kind":3}""", """{"version":2,"key_cols":"id"}""", """{"version":2,"fold":"true"}""")
      .foreach { text =>
        intercept[com.fasterxml.jackson.core.JsonProcessingException](VersionMeta.parse(2, text))
      }
  }

  test("column names containing ',' round-trip through key_cols and partition_cols") {
    val root = java.nio.file.Files.createTempDirectory("graft-meta").toString
    val t = new SnapshotTables(spark, root)
    t.overwriteTable(Seq((1, "a"), (2, "b")).toDF("k,1", "v"), "keyed")
    t.upsertMor("keyed", Seq((1, "A"), (3, "c")).toDF("k,1", "v"), Seq("k,1"))
    assert(t.chainKinds("keyed", 2) == Seq("full", "mor_upsert"))
    assert(t.read("keyed").as[(Int, String)].collect().toSet == Set((1, "A"), (2, "b"), (3, "c")))

    t.overwriteTable(Seq((1, "x"), (2, "y")).toDF("id", "p,q"), "part", Seq("p,q"))
    t.append(Seq((3, "x")).toDF("id", "p,q"), "part")
    assert(t.currentPartitionCols("part") == Seq("p,q"))
    assert(t.uniformIdentityLayout("part", 2) == Seq("p,q"))
    assert(t.read("part").select("id", "p,q").as[(Int, String)].collect().toSet ==
      Set((1, "x"), (2, "y"), (3, "x")))
  }

  test("a torn retained meta fails a txn replay loudly instead of committing the txn twice") {
    val root = java.nio.file.Files.createTempDirectory("graft-meta").toString
    val t = new SnapshotTables(spark, root)
    t.append(Seq((1, "a")).toDF("id", "v"), "tab", txnId = Some("a")) // v1
    t.overwriteTable(Seq((2, "b")).toDF("id", "v"), "tab") // v2
    val meta = java.nio.file.Paths.get(root, "tab", "metadata", "v00001.json")
    val text = java.nio.file.Files.readString(meta)
    java.nio.file.Files.writeString(meta, text.take(text.indexOf("\"txn\"")))
    intercept[java.io.IOException] {
      t.append(Seq((1, "a")).toDF("id", "v"), "tab", txnId = Some("a"))
    }
    assert(t.currentVersion("tab") == 2)
  }
}
