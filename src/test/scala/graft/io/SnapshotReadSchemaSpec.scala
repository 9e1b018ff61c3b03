package graft.io

import graft.{JobCount, SparkSpec}
import graft.catalog.SnapshotCatalog
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DateType, StringType}

/** Snapshot reads take each version's schema from its metadata, the
  * way an Iceberg reader takes it from table metadata: no footer is
  * opened to learn it, and partition columns keep their written types. */
class SnapshotReadSchemaSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0
  /** A fresh uniquely-named catalog, and the namespace `dw`'s tables. */
  private def newCatalog(): (String, SnapshotTables) = synchronized {
    n += 1
    val cat = s"rsspec$n"
    val root = java.nio.file.Files.createTempDirectory(s"graft-rs-$cat").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE NAMESPACE $cat.dw")
    (cat, new SnapshotTables(spark, s"$root/dw"))
  }

  private def codes(df: DataFrame): Seq[(String, Int)] = {
    assert(df.schema("code").dataType == StringType, df.schema.treeString)
    df.select("code", "n").as[(String, Int)].collect().toSeq.sorted
  }

  test("a string partition column whose values look numeric reads back as written") {
    val (c, st) = newCatalog()
    // full version: "007", "0010" and "10" are three keys, not 7, 10, 10
    st.overwriteTable(Seq(("007", 1), ("0010", 2), ("10", 3)).toDF("code", "n"), "t", Seq("code"))
    val full = Seq(("0010", 2), ("007", 1), ("10", 3))
    assert(codes(st.read("t")) == full)
    assert(codes(spark.sql(s"SELECT * FROM $c.dw.t")) == full)

    // a partitioned append chain resolves through its segments
    st.append(Seq(("08", 4)).toDF("code", "n"), "t")
    assert(st.chainKinds("t", st.currentVersion("t")) == Seq("full", "append"))
    val appended = (full :+ (("08", 4))).sorted
    assert(codes(st.read("t")) == appended)
    assert(codes(spark.sql(s"SELECT * FROM $c.dw.t")) == appended)

    // a merge-on-read segment: the upsert replaces "007" and only "007"
    st.upsertMor("t", Seq(("007", 9), ("09", 5)).toDF("code", "n"), Seq("code"))
    val upserted = Seq(("0010", 2), ("007", 9), ("08", 4), ("09", 5), ("10", 3))
    assert(codes(st.read("t")) == upserted)
    assert(codes(spark.sql(s"SELECT * FROM $c.dw.t")) == upserted)
    assert(spark.sql(s"SELECT n FROM $c.dw.t WHERE code = '10'").as[Int].collect().toSeq == Seq(3))

    // time travel keeps each version's own reading
    assert(codes(st.readVersion("t", 1)) == full)
  }

  private def metaOf(st: SnapshotTables, t: String, v: Int): (org.apache.hadoop.fs.Path, String) = {
    val p = new org.apache.hadoop.fs.Path(f"${st.rootPath}/$t/metadata/v$v%05d.json")
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    try (p, new String(in.readAllBytes(), "UTF-8")) finally in.close()
  }

  test("a delta of other types than the table's is committed as before and reads from its footers") {
    val (c, st) = newCatalog()
    // k is INT: an append of the table's types is marked as describing
    // its files; an upsert of bigint keys (a JSON-inferred stream into a
    // SQL-declared table) is accepted unmarked
    st.overwriteTable(Seq((1, "a"), (2, "b")).toDF("k", "v"), "w")
    st.append(Seq((5, "f")).toDF("k", "v"), "w")
    st.upsertMor("w", Seq((2L, "c"), (3L, "d")).toDF("k", "v"), Seq("k"))
    val metas = (2 to 3).map(v => SnapshotTables.VersionMeta.parse(v, metaOf(st, "w", v)._2))
    assert(metas.map(_.schemaOfFiles) == Seq(true, false))
    val want = Seq((1L, "a"), (2L, "c"), (3L, "d"), (5L, "f"))
    def rows(df: DataFrame) = df.selectExpr("CAST(k AS BIGINT)", "v").as[(Long, String)].collect().toSeq.sorted
    assert(rows(st.read("w")) == want)
    assert(rows(spark.table(s"$c.dw.w")) == want)
    st.materialize("w")
    assert(rows(st.read("w")) == want)

    // a struct whose fields come in another order reads back by name,
    // never with its values swapped
    st.overwriteTable(spark.range(1).selectExpr("1 AS k",
      "named_struct('city', 'Dublin', 'country', 'Ireland') AS loc"), "s")
    st.append(spark.range(1).selectExpr("2 AS k",
      "named_struct('country', 'Spain', 'city', 'Madrid') AS loc"), "s")
    assert(!SnapshotTables.VersionMeta.parse(2, metaOf(st, "s", 2)._2).schemaOfFiles)
    for (df <- Seq(st.read("s"), spark.table(s"$c.dw.s")))
      assert(df.selectExpr("k", "loc.city").as[(Int, String)].collect().toSeq.sorted ==
        Seq((1, "Dublin"), (2, "Madrid")))
  }

  test("on-disk compatibility: delta metas in the earlier rendering (no files_schema) read from their footers") {
    val (c, st) = newCatalog()
    // an INT table whose append files hold INT64 under an int-recorded
    // meta, and an append of matching types, both rendered as earlier
    // writers rendered them: the table's schema, no files_schema
    st.overwriteTable(Seq((1, "a")).toDF("k", "v"), "o")
    st.append(Seq((2L, "b")).toDF("k", "v"), "o")
    st.append(Seq((3, "c")).toDF("k", "v"), "o")
    val table = st.readVersion("o", 1).schema
    (2 to 3).foreach { v =>
      val (p, text) = metaOf(st, "o", v)
      val earlier = SnapshotTables.VersionMeta.parse(v, text).copy(schema = table.json, schemaOfFiles = false)
      val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
      try out.write(earlier.render.getBytes("UTF-8")) finally out.close()
      assert(!metaOf(st, "o", v)._2.contains("files_schema"))
    }
    val want = Seq((1L, "a"), (2L, "b"), (3L, "c"))
    def rows(df: DataFrame) = df.selectExpr("CAST(k AS BIGINT)", "v").as[(Long, String)].collect().toSeq.sorted
    assert(rows(st.read("o")) == want)
    st.append(Seq((4, "d")).toDF("k", "v"), "o")
    assert(st.compactDeltas("o"))
    assert(rows(st.read("o")) == want :+ ((4L, "d")))
    st.materialize("o")
    assert(rows(st.read("o")) == want :+ ((4L, "d")))
    assert(rows(spark.table(s"$c.dw.o")) == want :+ ((4L, "d")))
  }

  test("planning a committed snapshot read starts no Spark job; empty, schema-less and gold-shaped reads keep their rules") {
    val (c, st) = newCatalog()
    spark.sql(s"CREATE TABLE $c.dw.p (id INT, region STRING) PARTITIONED BY (region)")
    spark.sql(s"INSERT INTO $c.dw.p VALUES (1, 'eu'), (2, 'us'), (3, '010')")
    // a fresh version no read has resolved yet
    st.overwriteTable(st.read("p").union(Seq((4, "eu")).toDF("id", "region")), "p", Seq("region"))
    val (_, jobs) = JobCount(spark) {
      spark.table(s"$c.dw.p").queryExecution.executedPlan
      st.read("p").schema
    }
    assert(jobs.isEmpty, jobs)
    assert(spark.table(s"$c.dw.p").where("region = '010'").as[(Int, String)].collect().toSeq ==
      Seq((3, "010")))

    // a zero-file append segment adds zero rows; a TRUNCATEd table
    // reads as zero rows with the declared schema
    spark.sql(s"INSERT INTO $c.dw.p SELECT * FROM $c.dw.p WHERE id < 0")
    assert(st.chainKinds("p", st.currentVersion("p")) == Seq("full", "append"))
    assert(st.read("p").count() == 4 && spark.table(s"$c.dw.p").count() == 4)
    assert(st.read("p").schema == spark.table(s"$c.dw.p").schema)
    spark.sql(s"TRUNCATE TABLE $c.dw.p")
    val empty = spark.table(s"$c.dw.p")
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("id", "region"))
    assert(empty.schema.map(_.dataType.simpleString) == Seq("int", "string"))

    // a meta with no recorded schema reads through footer inference
    st.overwriteTable(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "bare")
    val meta = new org.apache.hadoop.fs.Path(s"${st.rootPath}/bare/metadata/v00001.json")
    val cached = st.read("bare").schema
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bare = Json.mapper.writeValueAsString(Json.mapper.createObjectNode()
      .put("data_dir", st.snapshotDirString("bare", 1))) // names its data dir only
    val out = fs.create(meta, true)
    try out.write(bare.getBytes("UTF-8")) finally out.close()
    assert(st.read("bare").schema == cached)
    assert(st.read("bare").as[(Long, String)].collect().toSeq.sorted == Seq((1L, "a"), (2L, "b")))
    assert(spark.table(s"$c.dw.bare").count() == 2)

    // gold-shaped: the partition column leads the written frame and
    // count(*) is non-null; the read matches the footer-inferred one
    // in column order and nullability
    val gold = Seq(("2024-01-02", "micro", "Ireland"), ("2024-01-02", "micro", "Ireland"),
        ("2024-01-02", "nano", null))
      .toDF("d", "brewery_type", "country")
      .selectExpr("CAST(d AS DATE) AS sys_file_date", "brewery_type", "country")
      .groupBy("sys_file_date", "brewery_type", "country").count().withColumnRenamed("count", "qtd")
    assert(!gold.schema("qtd").nullable)
    st.overwriteTable(gold, "g", Seq("sys_file_date"))
    val footer = spark.read.parquet(st.snapshotDirString("g", st.currentVersion("g"))).schema
    assert(st.read("g").schema == footer)
    assert(spark.table(s"$c.dw.g").schema == footer)
    assert(footer.fieldNames.toSeq == Seq("brewery_type", "country", "qtd", "sys_file_date"))
    assert(footer("sys_file_date").dataType == DateType && footer.forall(_.nullable))
    assert(spark.table(s"$c.dw.g").collect().toSeq.sortBy(_.getString(0)) ==
      Seq(Row("micro", "Ireland", 2L, java.sql.Date.valueOf("2024-01-02")),
        Row("nano", null, 1L, java.sql.Date.valueOf("2024-01-02"))))
  }

  test("a SQL read of a chain whose delta meta is torn fails loudly and names the file") {
    val (c, st) = newCatalog()
    st.overwriteTable(Seq((1, "a")).toDF("id", "v"), "t")
    st.append(Seq((2, "b")).toDF("id", "v"), "t")
    st.append(Seq((3, "c")).toDF("id", "v"), "t")
    assert(st.chainKinds("t", 3) == Seq("full", "append", "append"))
    // the middle delta's meta is torn; the head's still parses
    val (p, text) = metaOf(st, "t", 2)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p.toUri.getPath), text.take(text.length / 2))
    val e = intercept[Exception](spark.sql(s"SELECT * FROM $c.dw.t").collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).toSeq
    assert(messages.exists(_.contains("v00002.json")), messages.mkString(" <- "))
  }
}
