package graft.io

import graft.SparkSpec
import graft.catalog.SnapshotCatalog
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.LongType

/** Every read of a snapshot version — `st.read`, a SQL scan, a pruned
  * or hidden-partition read — takes its dirs and schemas from one chain
  * scan, so SQL and the Scala API read the same rows in the same schema
  * whatever shape the chain has. */
class SnapshotReadPathSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0
  /** A fresh uniquely-named catalog, and the namespace `dw`'s tables. */
  private def newCatalog(): (String, SnapshotTables) = synchronized {
    n += 1
    val cat = s"rpspec$n"
    val root = java.nio.file.Files.createTempDirectory(s"graft-rp-$cat").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE NAMESPACE $cat.dw")
    (cat, new SnapshotTables(spark, s"$root/dw"))
  }

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def metaPath(st: SnapshotTables, t: String, v: Int) =
    new org.apache.hadoop.fs.Path(f"${st.rootPath}/$t/metadata/v$v%05d.json")

  private def writeFile(p: org.apache.hadoop.fs.Path, text: String): Unit = {
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private def messages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(x => String.valueOf(x.getMessage)).toSeq

  test("an INT table with a BIGINT append reads the same rows through SQL as through st.read") {
    val (c, st) = newCatalog()
    st.overwriteTable(Seq((1, "a"), (2, "b")).toDF("k", "v"), "m")
    st.append(Seq((3L, "c")).toDF("k", "v"), "m")
    assert(st.chainKinds("m", st.currentVersion("m")) == Seq("full", "append"))
    val api = st.read("m")
    assert(api.schema("k").dataType == LongType)
    val all = spark.sql(s"SELECT * FROM $c.dw.m")
    assert(all.schema == api.schema)
    assert(sorted(all) == sorted(api))
    assert(sorted(spark.sql(s"SELECT * FROM $c.dw.m WHERE k > 1")) == sorted(api.where("k > 1")))
    assert(sorted(spark.sql(s"SELECT * FROM $c.dw.m WHERE k > 1")) == Seq("[2,b]", "[3,c]"))
    assert(spark.sql(s"SELECT count(*) FROM $c.dw.m").as[Long].head() == 3L)
  }

  test("the on-disk compatibility chain (delta metas without files_schema) reads through SQL before any fold") {
    val (c, st) = newCatalog()
    // an INT table whose first append holds INT64 under an int-recorded
    // meta, and an append of matching types, both rendered as writers
    // before the files_schema mark rendered them
    st.overwriteTable(Seq((1, "a")).toDF("k", "v"), "o")
    st.append(Seq((2L, "b")).toDF("k", "v"), "o")
    st.append(Seq((3, "c")).toDF("k", "v"), "o")
    val table = st.readVersion("o", 1).schema
    (2 to 3).foreach { v =>
      val p = metaPath(st, "o", v)
      val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
      val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      writeFile(p, SnapshotTables.VersionMeta.parse(v, text)
        .copy(schema = table.json, schemaOfFiles = false).render)
    }
    val sql = spark.table(s"$c.dw.o")
    assert(sql.schema == st.read("o").schema)
    assert(sql.schema("k").dataType == LongType)
    assert(sorted(sql) == Seq("[1,a]", "[2,b]", "[3,c]"))
    assert(sorted(spark.sql(s"SELECT v FROM $c.dw.o WHERE k >= 2")) == Seq("[b]", "[c]"))
  }

  test("every chain shape reads through SQL in st.read's schema and rows") {
    val (c, st) = newCatalog()
    val base = Seq((1, "a", "eu"), (2, "b", "us"), (3, "c", "eu")).toDF("id", "v", "region")
    def more(ids: Int*) = ids.map(i => (i, s"x$i", "us")).toDF("id", "v", "region")

    st.overwriteTable(base, "full")
    st.overwriteTable(base, "app")
    st.append(more(4), "app")
    st.append(more(5), "app")
    st.overwriteTable(base, "papp", Seq("region"))
    st.append(more(6), "papp")
    st.overwriteTable(base, "mor")
    st.upsertMor("mor", Seq((2, "B", "us"), (7, "g", "eu")).toDF("id", "v", "region"), Seq("id"))
    st.deleteKeysMor("mor", Seq(Tuple1(1)).toDF("id"))
    st.overwriteTable(base, "evo")
    st.addColumn("evo", "score", org.apache.spark.sql.types.DoubleType)
    st.append(Seq((8, "h", "eu", 0.5)).toDF("id", "v", "region", "score"), "evo")

    val shapes = Map(
      "full" -> Seq("full"),
      "app" -> Seq("full", "append", "append"),
      "papp" -> Seq("full", "append"),
      "mor" -> Seq("full", "mor_upsert", "mor_delete"),
      "evo" -> Seq("full", "append", "append"))
    shapes.foreach { case (t, kinds) =>
      assert(st.chainKinds(t, st.currentVersion(t)) == kinds, t)
      val api = st.read(t)
      val sql = spark.table(s"$c.dw.$t")
      assert(sql.schema == api.schema, s"$t: ${sql.schema.simpleString} vs ${api.schema.simpleString}")
      assert(sorted(sql) == sorted(api), t)
    }
    assert(sorted(spark.table(s"$c.dw.mor").select("id", "v")) == Seq("[2,B]", "[3,c]", "[7,g]"))
    assert(spark.table(s"$c.dw.evo").columns.toSeq == Seq("id", "v", "region", "score"))
    assert(sorted(spark.table(s"$c.dw.evo").where("score IS NULL").select("id")) ==
      Seq("[1]", "[2]", "[3]"))
  }

  test("an evolved chain keeps a wider-typed delta's type: a BIGINT above Int.MaxValue in an INT table") {
    val (c, st) = newCatalog()
    st.overwriteTable(Seq((1, "a")).toDF("k", "v"), "w")
    st.addColumn("w", "note", org.apache.spark.sql.types.StringType)
    val big = Int.MaxValue.toLong + 7
    st.append(Seq((big, "b", "n")).toDF("k", "v", "note"), "w")
    assert(st.chainKinds("w", st.currentVersion("w")) == Seq("full", "append", "append"))
    for (df <- Seq(st.read("w"), spark.table(s"$c.dw.w"))) {
      assert(df.columns.toSeq == Seq("k", "v", "note"))
      assert(df.schema("k").dataType == LongType)
      assert(sorted(df) == Seq("[1,a,null]", s"[$big,b,n]"))
    }
    assert(spark.sql(s"SELECT v FROM $c.dw.w WHERE k > ${Int.MaxValue}").as[String].collect().toSeq == Seq("b"))
  }

  test("a committed version whose data dir is missing fails its reads instead of reading as empty") {
    val (c, st) = newCatalog()
    st.overwriteTable(Seq((1, "a"), (2, "b")).toDF("k", "v"), "t")
    assert(spark.sql(s"SELECT count(*) FROM $c.dw.t").as[Long].head() == 2L)
    val dir = new java.io.File(st.snapshotDirString("t", 1).stripPrefix("file:"))
    assert(dir.isDirectory)
    org.apache.commons.io.FileUtils.deleteDirectory(dir)
    assert(st.currentVersion("t") == 1)
    for (q <- Seq(s"SELECT * FROM $c.dw.t", s"SELECT count(*) FROM $c.dw.t")) {
      val e = intercept[Exception](spark.sql(q).collect())
      assert(messages(e).exists(_.contains("v00001")), messages(e).mkString(" <- "))
    }
    intercept[Exception](st.read("t").collect())
  }

  test("the .history table fails on a listed version whose meta is torn, and drops one whose meta is gone") {
    val (c, st) = newCatalog()
    (1 to 3).foreach(i => st.overwriteTable(Seq((i, "a")).toDF("k", "v"), "h"))
    def kinds = spark.sql(s"SELECT version, kind FROM $c.dw.h.history ORDER BY version")
      .as[(Int, String)].collect().toSeq
    assert(kinds == Seq((1, "full"), (2, "full"), (3, "full")))

    // a meta gone since the listing: no kind to report, so no row
    val fs = metaPath(st, "h", 1).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(metaPath(st, "h", 1), false)
    assert(kinds == Seq((2, "full"), (3, "full")))

    // a torn meta of a version whose dir is listed fails loudly
    writeFile(metaPath(st, "h", 2), "{\"kind\": \"app")
    val e = intercept[Exception](kinds)
    assert(messages(e).exists(_.contains("v00002.json")), messages(e).mkString(" <- "))
    assert(st.read("h").as[(Int, String)].collect().toSeq == Seq((3, "a")))
    assert(Seq(Row(3, "a")) == spark.table(s"$c.dw.h").collect().toSeq)
  }
}
