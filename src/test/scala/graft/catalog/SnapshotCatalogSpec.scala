package graft.catalog

import graft.SparkSpec
import org.apache.spark.sql.Row

/** The V2 catalog surface: 3-level names, SQL DDL/DML/time-travel over
  * snapshot tables (reference: job_gold.py:50-58 registers the
  * catalogs; :71-88 is the 3-part-name gold SQL this reproduces). */
class SnapshotCatalogSpec extends SparkSpec {
  import spark.implicits._

  /** Register a fresh uniquely-named catalog on the shared session. */
  private var n = 0
  private def newCatalog(): String = synchronized {
    n += 1
    val cat = s"cspec$n"
    val root = java.nio.file.Files.createTempDirectory(s"graft-cat-$cat").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    cat
  }

  private def rows(sql: String): Seq[Row] = spark.sql(sql).collect().toSeq

  test("DDL + INSERT + SELECT roundtrip through a 3-part name") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    spark.sql(s"CREATE TABLE $c.dw.t (id INT, v STRING)")
    // declared-but-empty: zero rows, declared schema
    assert(spark.table(s"$c.dw.t").count() == 0)
    assert(spark.table(s"$c.dw.t").columns.toSeq == Seq("id", "v"))
    spark.sql(s"INSERT INTO $c.dw.t VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"INSERT INTO $c.dw.t VALUES (3, 'c')") // append
    assert(rows(s"SELECT * FROM $c.dw.t ORDER BY id") ==
      Seq(Row(1, "a"), Row(2, "b"), Row(3, "c")))
    spark.sql(s"INSERT OVERWRITE $c.dw.t VALUES (9, 'z')") // truncate
    assert(rows(s"SELECT * FROM $c.dw.t") == Seq(Row(9, "z")))
    assert(spark.sql(s"SHOW TABLES IN $c.dw").collect().map(_.getString(1)).toSeq == Seq("t"))
  }

  test("CTAS, DROP, rename") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    spark.sql(s"CREATE TABLE $c.dw.src AS SELECT id, id * 2 AS dbl FROM range(5)")
    assert(rows(s"SELECT sum(dbl) AS s FROM $c.dw.src") == Seq(Row(20L)))
    spark.sql(s"ALTER TABLE $c.dw.src RENAME TO $c.dw.renamed")
    assert(rows(s"SELECT count(*) AS c FROM $c.dw.renamed") == Seq(Row(5L)))
    spark.sql(s"DROP TABLE $c.dw.renamed")
    assert(spark.sql(s"SHOW TABLES IN $c.dw").count() == 0)
  }

  test("identity PARTITIONED BY: directory layout survives commits; scan prunes partitions") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    spark.sql(s"CREATE TABLE $c.dw.p (id INT, region STRING) PARTITIONED BY (region)")
    spark.sql(s"INSERT INTO $c.dw.p VALUES (1, 'eu'), (2, 'us'), (3, 'eu')")
    val pruned = spark.sql(s"SELECT id FROM $c.dw.p WHERE region = 'eu'")
    assert(pruned.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 3))
    // partition value is encoded in the directory, pruned before the scan
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("region"), plan)
    // second commit re-threads the identity partition columns
    spark.sql(s"INSERT INTO $c.dw.p VALUES (4, 'us')")
    assert(spark.table(s"$c.dw.p").count() == 4)
    val st = new graft.io.SnapshotTables(spark,
      spark.conf.get(s"spark.sql.catalog.$c.root") + "/dw")
    assert(st.currentPartitionCols("p") == Seq("region"))
  }

  test("hidden partition transforms (days/bucket/truncate) persist and re-derive") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    spark.sql(s"CREATE TABLE $c.dw.h (id INT, ts TIMESTAMP) PARTITIONED BY (days(ts))")
    spark.sql(s"INSERT INTO $c.dw.h VALUES (1, TIMESTAMP '2024-01-01 10:00:00'), " +
      "(2, TIMESTAMP '2024-01-02 11:00:00')")
    // user-facing schema conceals the derived __p_ column
    assert(spark.table(s"$c.dw.h").columns.toSeq == Seq("id", "ts"))
    assert(spark.table(s"$c.dw.h").count() == 2)
    val st = new graft.io.SnapshotTables(spark,
      spark.conf.get(s"spark.sql.catalog.$c.root") + "/dw")
    assert(st.persistedTransforms("h").map(_.srcCol) == Seq("ts"))
    // the transform survives a later commit (hidden partitioning's contract)
    spark.sql(s"INSERT INTO $c.dw.h VALUES (3, TIMESTAMP '2024-01-03 09:00:00')")
    assert(st.persistedTransforms("h").nonEmpty && spark.table(s"$c.dw.h").count() == 3)
  }

  test("static-partition INSERT OVERWRITE replaces only the named partition") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    spark.sql(s"CREATE TABLE $c.dw.sp (id INT, region STRING) PARTITIONED BY (region)")
    spark.sql(s"INSERT INTO $c.dw.sp VALUES (1, 'eu'), (2, 'us')")
    spark.sql(s"INSERT OVERWRITE $c.dw.sp PARTITION (region = 'eu') VALUES (10)")
    assert(rows(s"SELECT id, region FROM $c.dw.sp ORDER BY id") ==
      Seq(Row(2, "us"), Row(10, "eu")))
  }

  test("VERSION AS OF and TIMESTAMP AS OF read retained snapshots; pinned versions reject writes") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    spark.sql(s"CREATE TABLE $c.dw.t AS SELECT 1 AS id")
    val tAfterV1 = System.currentTimeMillis()
    Thread.sleep(1100) // commit mtimes have second granularity on some filesystems
    spark.sql(s"INSERT OVERWRITE $c.dw.t VALUES (2)")
    assert(rows(s"SELECT id FROM $c.dw.t VERSION AS OF 1") == Seq(Row(1)))
    assert(rows(s"SELECT id FROM $c.dw.t VERSION AS OF 2") == Seq(Row(2)))
    val ts = new java.sql.Timestamp(tAfterV1).toString
    assert(rows(s"SELECT id FROM $c.dw.t TIMESTAMP AS OF '$ts'") == Seq(Row(1)))
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO $c.dw.t VERSION AS OF 1 VALUES (3)")
    }
    assert(e.getMessage.toLowerCase.contains("pinned") ||
      e.getMessage.toLowerCase.contains("version"), e.getMessage)
  }

  test("a DataFrame resolved before a concurrent commit keeps reading its own snapshot") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    spark.sql(s"CREATE TABLE $c.dw.iso AS SELECT 1 AS id")
    val before = spark.table(s"$c.dw.iso") // pins version 1 at load
    spark.sql(s"INSERT OVERWRITE $c.dw.iso VALUES (2)")
    assert(before.collect().toSeq == Seq(Row(1)))          // old snapshot
    assert(rows(s"SELECT id FROM $c.dw.iso") == Seq(Row(2))) // fresh resolve
  }

  test("DELETE FROM: TRUE-rows go, NULL-predicate rows are KEPT (SQL semantics)") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    Seq((Some(1), "a"), (None, "b"), (Some(3), "c")).toDF("id", "v")
      .writeTo(s"$c.dw.t").create()
    spark.sql(s"DELETE FROM $c.dw.t WHERE id = 1")
    assert(spark.table(s"$c.dw.t").collect().map(_.getString(1)).toSet == Set("b", "c"))
    // the delete is itself a commit: v1 still has all three
    assert(spark.sql(s"SELECT count(*) AS c FROM $c.dw.t VERSION AS OF 1").head.getLong(0) == 3)
  }

  test("UPDATE: all SET expressions evaluate against the OLD row (swap semantics)") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    Seq((1, 10.0, 100.0), (2, 20.0, 200.0)).toDF("id", "a", "b").writeTo(s"$c.dw.t").create()
    spark.sql(s"UPDATE $c.dw.t SET a = b, b = a WHERE id = 2")
    assert(rows(s"SELECT id, a, b FROM $c.dw.t ORDER BY id") ==
      Seq(Row(1, 10.0, 100.0), Row(2, 200.0, 20.0)))
    // unconditional UPDATE hits every row
    spark.sql(s"UPDATE $c.dw.t SET a = a + 1")
    assert(rows(s"SELECT a FROM $c.dw.t ORDER BY id") == Seq(Row(11.0), Row(201.0)))
    val e = intercept[Exception] { spark.sql(s"UPDATE $c.dw.t SET nope = 1") }
    assert(e.getMessage.contains("nope"))
  }

  test("UPDATE of nested struct fields (SET s.x = ...) — old-row evaluation, field-level precision") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    spark.sql(s"""CREATE TABLE $c.dw.t AS
      SELECT 1 AS id, named_struct('city', 'nyc', 'zip', 10001) AS addr, CAST(5.0 AS DOUBLE) AS score
      UNION ALL SELECT 2, named_struct('city', 'sfo', 'zip', 94100), CAST(7.0 AS DOUBLE)""")
    // nested field + top-level column in one statement; values read the OLD row
    spark.sql(s"UPDATE $c.dw.t SET addr.city = upper(addr.city), score = score + addr.zip WHERE id = 1")
    assert(rows(s"SELECT id, addr.city, addr.zip, score FROM $c.dw.t ORDER BY id") ==
      Seq(Row(1, "NYC", 10001, 10006.0), Row(2, "sfo", 94100, 7.0)))
    // two fields of one struct swap against the OLD struct
    spark.sql(s"""CREATE TABLE $c.dw.sw AS SELECT 1 AS id, named_struct('a', 10, 'b', 20) AS s""")
    spark.sql(s"UPDATE $c.dw.sw SET s.a = s.b, s.b = s.a")
    assert(rows(s"SELECT s.a, s.b FROM $c.dw.sw") == Seq(Row(20, 10)))
  }

  test("MERGE INTO: conditional update/delete, conditional insert, one commit") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)).toDF("id", "v", "x")
      .writeTo(s"$c.dw.t").create()
    Seq((1, "A", 100.0), (4, "d", 40.0), (5, "e", 0.5)).toDF("id", "v", "x")
      .createOrReplaceTempView("cat_merge_src")
    spark.sql(
      s"""MERGE INTO $c.dw.t AS t USING cat_merge_src AS s ON t.id = s.id
         |WHEN MATCHED AND s.x > 50 THEN UPDATE SET v = s.v, x = s.x
         |WHEN MATCHED THEN DELETE
         |WHEN NOT MATCHED AND s.x > 1 THEN INSERT (id, v, x) VALUES (s.id, s.v, s.x)""".stripMargin)
    // 1 matched (x=100>50) -> updated; 2 unmatched-by-source -> kept;
    // 4 inserted (x=40>1); 5 dropped (x=0.5); 3 untouched
    assert(rows(s"SELECT id, v, x FROM $c.dw.t ORDER BY id") ==
      Seq(Row(1, "A", 100.0), Row(2, "b", 20.0), Row(3, "c", 30.0), Row(4, "d", 40.0)))
    // the whole MERGE was ONE commit
    val st = new graft.io.SnapshotTables(spark,
      spark.conf.get(s"spark.sql.catalog.$c.root") + "/dw")
    assert(st.currentVersion("t") == 2)
  }

  test("MERGE star actions and NOT MATCHED BY SOURCE") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    Seq((1, "a"), (4, "d")).toDF("id", "v").writeTo(s"$c.dw.t").create()
    Seq((4, "DD"), (9, "i")).toDF("id", "v").createOrReplaceTempView("cat_star_src")
    spark.sql(
      s"""MERGE INTO $c.dw.t AS t USING cat_star_src AS s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(rows(s"SELECT id, v FROM $c.dw.t ORDER BY id") ==
      Seq(Row(1, "a"), Row(4, "DD"), Row(9, "i")))
    spark.sql(
      s"""MERGE INTO $c.dw.t AS t USING cat_star_src AS s ON t.id = s.id
         |WHEN NOT MATCHED BY SOURCE AND t.id = 1 THEN DELETE""".stripMargin)
    assert(rows(s"SELECT id FROM $c.dw.t ORDER BY id") == Seq(Row(4), Row(9)))
  }

  test("MERGE WITH SCHEMA EVOLUTION widens the table through the catalog and applies new columns") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    Seq((1, "a")).toDF("id", "v").writeTo(s"$c.dw.t").create()
    Seq((1, "A", 9.5), (2, "b", 1.0)).toDF("id", "v", "score")
      .createOrReplaceTempView("cat_evo_src")
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $c.dw.t AS t USING cat_evo_src AS s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(rows(s"SELECT id, v, score FROM $c.dw.t ORDER BY id") ==
      Seq(Row(1, "A", 9.5), Row(2, "b", 1.0)))
    // the evolution itself was a COW commit: the pre-merge version keeps
    // the narrow schema
    assert(!spark.sql(s"SELECT * FROM $c.dw.t VERSION AS OF 1").columns.contains("score"))
    // WITHOUT the clause there is no widening: star actions resolve by
    // name against the TARGET schema — the extra source column is
    // ignored, the table schema stays put (never silently evolved)
    Seq((3, "c", 1.0, "x")).toDF("id", "v", "score", "extra")
      .createOrReplaceTempView("cat_evo_wider")
    spark.sql(s"""MERGE INTO $c.dw.t AS t USING cat_evo_wider AS s ON t.id = s.id
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.table(s"$c.dw.t").columns.toSeq == Seq("id", "v", "score"))
    assert(rows(s"SELECT id, v, score FROM $c.dw.t WHERE id = 3") == Seq(Row(3, "c", 1.0)))
  }

  test("MERGE cardinality rule: a target row matching several source rows raises") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    Seq((4, "d")).toDF("id", "v").writeTo(s"$c.dw.t").create()
    Seq((4, "x1"), (4, "x2")).toDF("id", "v").createOrReplaceTempView("cat_dup_src")
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO $c.dw.t AS t USING cat_dup_src AS s ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("matched multiple source rows")), e.getMessage)
    // and the failed MERGE committed nothing
    assert(rows(s"SELECT v FROM $c.dw.t") == Seq(Row("d")))
  }

  test("filter pushdown reaches the parquet scan through the catalog") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    spark.range(100).select($"id", ($"id" % 7).as("k")).writeTo(s"$c.dw.t").create()
    val q = spark.sql(s"SELECT id FROM $c.dw.t WHERE k = 3")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("IsNotNull(k)"), plan)
    assert(plan.contains("ReadSchema") && !plan.contains("struct<id:bigint,k:bigint,extra"), plan)
    assert(q.count() == 14) // ids 3, 10, …, 94
  }

  test("ALTER TABLE ADD/DROP COLUMN are metadata-only commits, RENAME copy-on-write; partition columns refused") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    spark.sql(s"CREATE TABLE $c.dw.t (id INT, region STRING) PARTITIONED BY (region)")
    spark.sql(s"INSERT INTO $c.dw.t VALUES (1, 'eu'), (2, 'us')")
    spark.sql(s"ALTER TABLE $c.dw.t ADD COLUMN score DOUBLE")
    // existing rows read NULL in the new column; writes can fill it.
    // Directory-partitioned convention: partition columns read LAST,
    // so the added column lands before 'region'.
    assert(spark.table(s"$c.dw.t").columns.toSeq == Seq("id", "score", "region"))
    assert(spark.table(s"$c.dw.t").filter($"score".isNotNull).count() == 0)
    spark.sql(s"INSERT INTO $c.dw.t VALUES (3, 0.5, 'eu')")
    assert(rows(s"SELECT id, score FROM $c.dw.t WHERE score IS NOT NULL") == Seq(Row(3, 0.5)))
    spark.sql(s"ALTER TABLE $c.dw.t RENAME COLUMN score TO quality")
    assert(spark.table(s"$c.dw.t").columns.toSeq == Seq("id", "quality", "region"))
    spark.sql(s"ALTER TABLE $c.dw.t DROP COLUMN quality")
    assert(spark.table(s"$c.dw.t").columns.toSeq == Seq("id", "region"))
    // prior versions keep their schema (evolution is per-commit)
    assert(spark.sql(s"SELECT * FROM $c.dw.t VERSION AS OF 2").columns.contains("score"))
    // partition-column edits and the layout are protected
    val e = intercept[Exception] { spark.sql(s"ALTER TABLE $c.dw.t DROP COLUMN region") }
    assert(e.getMessage.contains("partition column"))
    assert(spark.table(s"$c.dw.t").count() == 3) // nothing lost along the way
  }

  test("DESCRIBE and SHOW NAMESPACES surface catalog metadata incl. partition transforms") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    spark.sql(s"""CREATE TABLE $c.dw.t (id BIGINT, ts TIMESTAMP)
                  PARTITIONED BY (days(ts), bucket(4, id))""")
    spark.sql(s"INSERT INTO $c.dw.t VALUES (1, TIMESTAMP '2024-01-01 10:00:00')")
    val desc = spark.sql(s"DESCRIBE TABLE $c.dw.t").collect().map(_.mkString("|")).mkString("\n")
    assert(desc.contains("days(ts)") && desc.contains("bucket(4, id)"), desc)
    assert(spark.sql(s"SHOW NAMESPACES IN $c").collect().map(_.getString(0)).contains("dw"))
    // the derived __p_ columns stay hidden from DESCRIBE's column list
    assert(!desc.contains("__p_"))
  }

  test("TRUNCATE TABLE commits an empty version; content time-travels; schema survives for re-insert") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    spark.sql(s"CREATE TABLE $c.dw.t AS SELECT 1 AS id, 'a' AS v")
    spark.sql(s"TRUNCATE TABLE $c.dw.t")
    assert(spark.table(s"$c.dw.t").count() == 0)
    assert(spark.table(s"$c.dw.t").columns.toSeq == Seq("id", "v"))
    assert(rows(s"SELECT id FROM $c.dw.t VERSION AS OF 1") == Seq(Row(1)))
    spark.sql(s"INSERT INTO $c.dw.t VALUES (2, 'b')")
    assert(rows(s"SELECT id, v FROM $c.dw.t") == Seq(Row(2, "b")))
  }

  test("CREATE OR REPLACE is a NEW VERSION on the same history line (Iceberg semantics, not drop+create)") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    spark.sql(s"CREATE TABLE $c.dw.t AS SELECT 1 AS id, 'a' AS v")
    // replace with a DIFFERENT schema — still one history line
    spark.sql(s"CREATE OR REPLACE TABLE $c.dw.t AS SELECT 2 AS id, 'b' AS v, CAST(1.5 AS DOUBLE) AS x")
    assert(rows(s"SELECT id, v, x FROM $c.dw.t") == Seq(Row(2, "b", 1.5)))
    val st = new graft.io.SnapshotTables(spark,
      spark.conf.get(s"spark.sql.catalog.$c.root") + "/dw")
    assert(st.history("t") == Seq(1, 2))
    // the pre-replace content still time-travels, with its OWN schema
    val v1 = spark.sql(s"SELECT * FROM $c.dw.t VERSION AS OF 1")
    assert(v1.columns.toSeq == Seq("id", "v"))
    assert(v1.collect().toSeq == Seq(Row(1, "a")))
    // REPLACE without AS SELECT flips readers to the declared empty table
    spark.sql(s"CREATE OR REPLACE TABLE $c.dw.t (k BIGINT, w STRING)")
    assert(spark.table(s"$c.dw.t").count() == 0)
    assert(spark.table(s"$c.dw.t").columns.toSeq == Seq("k", "w"))
    assert(st.history("t") == Seq(1, 2, 3))
    spark.sql(s"INSERT INTO $c.dw.t VALUES (7, 'z')")
    assert(rows(s"SELECT k, w FROM $c.dw.t") == Seq(Row(7L, "z")))
  }

  test("MIXED partitioning (identity + derived transforms, the general Iceberg spec) survives commits and DML") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    // identity partition columns read LAST (directory convention) —
    // declare them last so positional INSERTs stay stable across commits
    spark.sql(s"""CREATE TABLE $c.dw.m (id BIGINT, ts TIMESTAMP, region STRING)
                  PARTITIONED BY (region, days(ts))""")
    spark.sql(s"""INSERT INTO $c.dw.m VALUES
      (1, TIMESTAMP '2024-01-01 10:00:00', 'eu'),
      (2, TIMESTAMP '2024-01-02 11:00:00', 'us')""")
    // user-facing schema conceals the derived column, keeps the identity one
    assert(spark.table(s"$c.dw.m").columns.toSeq == Seq("id", "ts", "region"))
    // the full layout survives a second commit AND a DML rewrite
    spark.sql(s"INSERT INTO $c.dw.m VALUES (3, TIMESTAMP '2024-01-03 09:00:00', 'eu')")
    spark.sql(s"UPDATE $c.dw.m SET region = 'na' WHERE id = 2")
    assert(rows(s"SELECT id, region FROM $c.dw.m ORDER BY id") ==
      Seq(Row(1L, "eu"), Row(2L, "na"), Row(3L, "eu")))
    val st = new graft.io.SnapshotTables(spark,
      spark.conf.get(s"spark.sql.catalog.$c.root") + "/dw")
    assert(st.currentPartitionCols("m") == Seq("region"))
    assert(st.persistedTransforms("m").map(_.srcCol) == Seq("ts"))
    // both levels present in the physical layout of the current version
    val snap = new java.io.File(new org.apache.hadoop.fs.Path(
      st.snapshotDirString("m", st.currentVersion("m"))).toUri.getPath)
    val lvl1 = snap.listFiles().filter(_.isDirectory).map(_.getName)
    assert(lvl1.forall(_.startsWith("region=")), lvl1.toSeq)
    val lvl2 = snap.listFiles().filter(_.isDirectory).head.listFiles().filter(_.isDirectory).map(_.getName)
    assert(lvl2.forall(_.startsWith("__p_days_ts=")), lvl2.toSeq)
    // identity-level pruning still reaches the scan
    val plan = spark.sql(s"SELECT id FROM $c.dw.m WHERE region = 'eu'")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("region"), plan)
  }

  test("log-governed catalog: SQL reads resolve the commit-log head; writes publish through; branch publish flips tables together") {
    val c = newCatalog()
    val logDir = java.nio.file.Files.createTempDirectory("graft-cat-log").toString
    spark.conf.set(s"spark.sql.catalog.$c.commitlog", logDir)
    spark.sql(s"CREATE NAMESPACE $c.dw")
    // SQL writes publish-through: immediately visible (read-your-writes)
    spark.sql(s"CREATE TABLE $c.dw.t AS SELECT 1 AS k, 'a' AS v")
    spark.sql(s"CREATE TABLE $c.dw.s AS SELECT 1 AS k, 100 AS agg")
    assert(rows(s"SELECT v FROM $c.dw.t") == Seq(Row("a")))
    // a DIRECT table-line commit (bypassing the catalog) is NOT visible
    // until published — the log governs SQL visibility
    val root = spark.conf.get(s"spark.sql.catalog.$c.root")
    val st = new graft.io.SnapshotTables(spark, s"$root/dw")
    st.overwriteTable(Seq((2, "unpublished")).toDF("k", "v"), "t")
    assert(rows(s"SELECT v FROM $c.dw.t") == Seq(Row("a")))
    // stage a coordinated change on BOTH tables' branches, publish once:
    // SQL readers flip from the old pair to the new pair, no intermediate.
    // (fork from the published state the log pins, not the out-of-band commit)
    st.rollback("t", 1)
    st.createBranch("t", "wap")
    st.createBranch("s", "wap")
    st.commitToBranch("t", "wap", Seq((9, "new")).toDF("k", "v"))
    st.commitToBranch("s", "wap", Seq((9, 900)).toDF("k", "agg"))
    val pair = s"SELECT t.v, s.agg FROM $c.dw.t t JOIN $c.dw.s s ON t.k = s.k"
    assert(rows(pair) == Seq(Row("a", 100)))
    val lake = new graft.io.LakeCommits(spark, logDir)
    lake.publishBranches(Seq((st, "t", "wap"), (st, "s", "wap")))
    assert(rows(pair) == Seq(Row("new", 900)))
    // SQL DML publishes through too
    spark.sql(s"UPDATE $c.dw.s SET agg = agg + 1")
    assert(rows(s"SELECT agg FROM $c.dw.s") == Seq(Row(901)))
    // and so does ALTER: the evolved schema is immediately log-visible
    spark.sql(s"ALTER TABLE $c.dw.s ADD COLUMN note STRING")
    assert(spark.table(s"$c.dw.s").columns.contains("note"))
  }

  test("the reference gold SQL runs VERBATIM with 3-part names (job_gold.py:71-88 shape)") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    Seq(
      (java.sql.Date.valueOf("2024-05-01"), "micro", "United States"),
      (java.sql.Date.valueOf("2024-05-01"), "micro", "United States"),
      (java.sql.Date.valueOf("2024-05-01"), "brewpub", "Ireland")
    ).toDF("sys_file_date", "brewery_type", "country").writeTo(s"$c.dw.tab_brewery").create()
    val out = spark.sql(
      s"""SELECT sys_file_date, brewery_type, country, count(*) AS qtd
         |FROM $c.dw.tab_brewery
         |WHERE sys_file_date = '2024-05-01'
         |GROUP BY 1, 2, 3
         |ORDER BY 1, 2, 3""".stripMargin)
    assert(out.collect().map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq ==
      Seq(("brewpub", "Ireland", 1L), ("micro", "United States", 2L)))
  }

  test("DESCRIBE HISTORY via pure SQL: <table>.history lists versions, commit times, lineage, head") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    spark.sql(s"CREATE TABLE $c.dw.t AS SELECT id FROM range(3)") // v1
    spark.sql(s"INSERT INTO $c.dw.t VALUES (10)") // v2
    spark.sql(s"INSERT INTO $c.dw.t VALUES (11)") // v3
    val hist = spark.sql(
      s"SELECT version, parent_version, is_current FROM $c.dw.t.history ORDER BY version")
      .collect().toSeq
    assert(hist == Seq(Row(1, null, false), Row(2, 1, false), Row(3, 2, true)))
    // commit times are real and non-decreasing, and they resolve
    // through TIMESTAMP AS OF to the version made current at that time
    val times = spark.sql(s"SELECT version, made_current_at FROM $c.dw.t.history ORDER BY version")
      .collect().map(r => (r.getInt(0), r.getTimestamp(1)))
    assert(times.map(_._2.getTime).sliding(2).forall(w => w.length < 2 || w(0) <= w(1)))
    val (v1, t1) = times.head
    assert(spark.sql(
      s"SELECT count(*) FROM $c.dw.t TIMESTAMP AS OF '${t1}'").head.getLong(0) == 3L && v1 == 1)
    // history follows the line, not a cache: another commit shows up
    spark.sql(s"INSERT INTO $c.dw.t VALUES (12)")
    assert(spark.sql(s"SELECT max(version) FROM $c.dw.t.history").head.getInt(0) == 4)
    assert(spark.sql(s"SELECT version FROM $c.dw.t.history WHERE is_current").head.getInt(0) == 4)
    // a REAL table named 'history' wins over the metadata route
    spark.sql(s"CREATE TABLE $c.dw2.x AS SELECT 1 AS a")
    spark.sql(s"CREATE TABLE $c.dw2.x.history AS SELECT 'real' AS who")
    assert(spark.sql(s"SELECT who FROM $c.dw2.x.history").head.getString(0) == "real")
    // no parent table -> ordinary missing-table analysis error
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT * FROM $c.dw.nope.history").collect()
    }
    assert(e.getCondition != null && e.getCondition.contains("TABLE_OR_VIEW_NOT_FOUND"))
  }

  test("<table>.history under retention: expired versions drop off; head stays current") {
    val c = newCatalog()
    // retention=2: current + 2 predecessors retained
    spark.conf.set(s"spark.sql.catalog.$c.retention", "2")
    spark.sql(s"CREATE NAMESPACE $c.dw")
    spark.sql(s"CREATE TABLE $c.dw.r AS SELECT 1 AS x") // v1 full
    (2 to 5).foreach(i => spark.sql(s"INSERT INTO $c.dw.r VALUES ($i)")) // v2..v5 append deltas
    // retained deltas chain back to the v1 base, so retention must
    // keep the WHOLE chain alive — nothing can expire yet
    val hist = spark.sql(s"SELECT version, is_current FROM $c.dw.r.history ORDER BY version")
      .collect().map(r => (r.getInt(0), r.getBoolean(1))).toSeq
    assert(hist == Seq((1, false), (2, false), (3, false), (4, false), (5, true)))
    assert(spark.sql(s"SELECT count(*) FROM $c.dw.r VERSION AS OF 3").head.getLong(0) == 3L)
    // materializing cuts the chain: the next commits' retention passes
    // can finally expire the old base and its deltas
    spark.sql(s"CALL $c.system.optimize('dw.r')") // v6 full
    spark.sql(s"INSERT INTO $c.dw.r VALUES (7)") // v7
    spark.sql(s"CALL $c.system.optimize('dw.r')") // v8 full — expire passes ran
    val hist2 = spark.sql(s"SELECT version, is_current FROM $c.dw.r.history ORDER BY version")
      .collect().map(r => (r.getInt(0), r.getBoolean(1))).toSeq
    assert(hist2 == Seq((6, false), (7, false), (8, true)))
    // expired versions are gone from time travel too — history and
    // VERSION AS OF agree on what is reachable
    assert(intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT * FROM $c.dw.r VERSION AS OF 1").collect()
    }.getMessage.nonEmpty)
    assert(spark.sql(s"SELECT count(*) FROM $c.dw.r VERSION AS OF 7").head.getLong(0) == 6L)
  }

  test("graft_table_changes: multiset and keyed forms agree (delta accounting)") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    spark.sql(s"CREATE TABLE $c.dw.acc AS SELECT id AS k, id * 3 AS v FROM range(50)") // v1
    spark.sql(s"UPDATE $c.dw.acc SET v = -1 WHERE k % 7 = 0") // v2: 8 updates
    spark.sql(s"DELETE FROM $c.dw.acc WHERE k >= 40") // v3: 10 deletes (incl. k=42,49 updated)
    spark.sql(s"INSERT INTO $c.dw.acc SELECT id + 100, id FROM range(5)") // v4: 5 inserts
    val keyed = spark.sql(
      s"SELECT _change_type, count(*) AS n FROM graft_table_changes('$c.dw.acc', 1, 4, 'k') GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val multi = spark.sql(
      s"SELECT _change_type, count(*) AS n FROM graft_table_changes('$c.dw.acc', 1, 4) GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // keyed: 6 updates survive (k=0,7,14,21,28,35; 42/49 were deleted)
    assert(keyed == Map("update" -> 6L, "delete" -> 10L, "insert" -> 5L))
    // multiset counts an update as delete+insert
    assert(multi("insert") == keyed("insert") + keyed("update"))
    assert(multi("delete") == keyed("delete") + keyed("update"))
    // and both agree with the actual row-count delta between versions
    val n1 = spark.sql(s"SELECT count(*) FROM $c.dw.acc VERSION AS OF 1").head.getLong(0)
    val n4 = spark.sql(s"SELECT count(*) FROM $c.dw.acc VERSION AS OF 4").head.getLong(0)
    assert(multi("insert") - multi("delete") == n4 - n1)
  }

  test("graft_table_changes: version-to-version CDC via pure SQL, keyed and multiset") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    spark.sql(s"CREATE TABLE $c.dw.cdc AS SELECT id AS k, CAST(id * 10 AS DOUBLE) AS v FROM range(5)") // v1
    spark.sql(s"UPDATE $c.dw.cdc SET v = v + 1 WHERE k = 2") // v2
    spark.sql(s"DELETE FROM $c.dw.cdc WHERE k = 4") // v3
    spark.sql(s"INSERT INTO $c.dw.cdc VALUES (9, 90.0)") // v4
    // keyed: one row per changed key with old/new images
    val keyed = spark.sql(
      s"""SELECT k, _change_type, __old.v AS old_v, __new.v AS new_v
          FROM graft_table_changes('$c.dw.cdc', 1, 4, 'k') ORDER BY k""").collect().toSeq
    assert(keyed == Seq(
      Row(2L, "update", 20.0, 21.0),
      Row(4L, "delete", 40.0, null),
      Row(9L, "insert", null, 90.0)))
    // multiset: an update is delete+insert; aggregation works like any table
    val multiset = spark.sql(
      s"""SELECT _change_type, count(*) AS n
          FROM graft_table_changes('$c.dw.cdc', 1, 4) GROUP BY 1 ORDER BY 1""").collect().toSeq
    assert(multiset == Seq(Row("delete", 2L), Row("insert", 2L)))
    // sub-ranges follow the version line
    assert(spark.sql(s"SELECT k FROM graft_table_changes('$c.dw.cdc', 3, 4, 'k')")
      .head.getLong(0) == 9L)
    // TIMESTAMP bounds resolve on the TIMESTAMP AS OF clock: age v1 an
    // hour back, then ask for changes since 30 minutes ago (→ from v1)
    // up to now (→ head)
    val root = spark.conf.get(s"spark.sql.catalog.$c.root")
    new java.io.File(f"$root/dw/cdc/metadata/v${1}%05d.json")
      .setLastModified(System.currentTimeMillis - 3600 * 1000L)
    val since = new java.sql.Timestamp(System.currentTimeMillis - 1800 * 1000L)
    val nowTs = new java.sql.Timestamp(System.currentTimeMillis + 1000L)
    val viaTs = spark.sql(
      s"""SELECT k, _change_type FROM graft_table_changes('$c.dw.cdc', '$since', '$nowTs', 'k')
          ORDER BY k""").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(viaTs == Seq((2L, "update"), (4L, "delete"), (9L, "insert")))
    // a timestamp before every commit fails loudly
    assert(intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_table_changes('$c.dw.cdc', '1999-01-01 00:00:00', 4, 'k')")
        .collect()
    }.getMessage.contains("committed at or before"))
    // all-columns-keyed table (empty non-key struct): insert/delete
    // classify normally, update is impossible by construction
    spark.sql(s"CREATE TABLE $c.dw.konly AS SELECT id AS k FROM range(3)")
    spark.sql(s"DELETE FROM $c.dw.konly WHERE k = 1")
    assert(spark.sql(s"SELECT k, _change_type FROM graft_table_changes('$c.dw.konly', 1, 2, 'k')")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "delete")))
    // refusals: non-retained version and non-3-part names fail loudly
    assert(intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_table_changes('$c.dw.cdc', 1, 99, 'k')").collect()
    }.getMessage.contains("retained"))
    assert(intercept[Exception] {
      spark.sql("SELECT * FROM graft_table_changes('two.part', 1, 2)").collect()
    }.getMessage.contains("3-level"))
  }

  test("<table>.refs metadata table and graft_table_manifest: branch and file-stats relations via SQL") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    spark.sql(s"CREATE TABLE $c.dw.f AS SELECT id AS k, id * 2 AS v FROM range(100)")
    val st = new graft.io.SnapshotTables(spark,
      spark.conf.get(s"spark.sql.catalog.$c.root") + "/dw")
    // no branches yet -> empty refs
    assert(spark.sql(s"SELECT * FROM $c.dw.f.refs").count() == 0L)
    st.createBranch("f", "audit")
    st.commitToBranch("f", "audit", Seq((999L, 0L)).toDF("k", "v"))
    st.createBranch("f", "wip")
    assert(spark.sql(s"SELECT branch, base_version, branch_commits FROM $c.dw.f.refs ORDER BY branch")
      .collect().toSeq == Seq(Row("audit", 1, 1), Row("wip", 1, 0)))
    // manifest relation: commit with stats, then query per-file bounds
    // through pure SQL — min/max/rows per (file, column)
    st.overwriteTable(
      graft.io.Sinks.zorderCluster(spark.range(1000).selectExpr("id AS k", "id * 2 AS v"),
        Seq("k"), numFiles = 4),
      "f", Nil, statsCols = Seq("k"))
    val m = spark.sql(
      s"""SELECT count(DISTINCT file) AS files, sum(rows) AS total_rows,
             min(min_num) AS lo, max(max_num) AS hi
          FROM graft_table_manifest('$c.dw.f') WHERE column = 'k'""").head
    assert(m.getLong(0) == 4L && m.getLong(1) == 1000L && m.getDouble(2) == 0.0 && m.getDouble(3) == 999.0)
    // z-ordered files carry DISJOINT k ranges — the file-skipping story
    // is SQL-auditable (sum of per-file spans ~= total span, no overlap)
    val spans = spark.sql(
      s"""SELECT min_num, max_num FROM graft_table_manifest('$c.dw.f')
          WHERE column = 'k' ORDER BY min_num""").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    assert(spans.sliding(2).forall(w => w.length < 2 || w(0)._2 < w(1)._1))
    // manifest-less table refuses loudly
    spark.sql(s"CREATE TABLE $c.dw.nostats AS SELECT 1 AS x")
    assert(intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_table_manifest('$c.dw.nostats')").collect()
    }.getMessage.contains("no stats manifest"))
  }

  test("CALL procedures: rollback, optimize, fast_forward (Iceberg maintenance shape)") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    spark.sql(s"CREATE TABLE $c.dw.m AS SELECT id AS k, CAST(id AS DOUBLE) AS v FROM range(100)") // v1
    spark.sql(s"INSERT INTO $c.dw.m VALUES (999, 9.0)") // v2
    // rollback re-commits v1's CONTENT as v3 — never history rewrite
    val rb = spark.sql(s"CALL $c.system.rollback('dw.m', 1)").collect().toSeq
    assert(rb == Seq(Row(1, 3)))
    assert(spark.sql(s"SELECT count(*) FROM $c.dw.m").head.getLong(0) == 100L)
    assert(spark.sql(s"SELECT count(*) FROM $c.dw.m VERSION AS OF 2").head.getLong(0) == 101L)
    // optimize with z-order columns: one more version, content unchanged
    val opt = spark.sql(s"CALL $c.system.optimize('dw.m', zorder_cols => 'k')").collect().toSeq
    assert(opt == Seq(Row(4)))
    assert(spark.sql(s"SELECT sum(k) FROM $c.dw.m").head.getLong(0) ==
      spark.sql(s"SELECT sum(k) FROM $c.dw.m VERSION AS OF 1").head.getLong(0))
    // WAP: stage on a branch via the API, publish through SQL
    val st = new graft.io.SnapshotTables(spark,
      spark.conf.get(s"spark.sql.catalog.$c.root") + "/dw")
    st.createBranch("m", "audit")
    st.mergeToBranch("m", "audit", Seq((50L, 500.0)).toDF("k", "v"), keyCols = Seq("k"))
    val ff = spark.sql(s"CALL $c.system.fast_forward('dw.m', 'audit')").collect().toSeq
    assert(ff == Seq(Row(5)))
    assert(spark.sql(s"SELECT v FROM $c.dw.m WHERE k = 50").head.getDouble(0) == 500.0)
    // refusals: unknown procedure; governed-only procedure on an
    // ungoverned catalog
    // Spark wraps the catalog's refusal in FAILED_TO_LOAD_ROUTINE
    assert(intercept[Exception] {
      spark.sql(s"CALL $c.system.no_such_proc(1)").collect()
    }.getMessage.contains("no_such_proc"))
    assert(intercept[Exception] {
      spark.sql(s"CALL $c.system.expire_log(1)").collect()
    }.getMessage.contains("not log-governed"))
  }

  test("CALL compact_deltas: minor compaction through SQL — fold committed, content and history intact") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    spark.sql(s"CREATE TABLE $c.dw.f AS SELECT id, CAST(id AS STRING) AS v FROM range(100)") // v1
    spark.sql(s"INSERT INTO $c.dw.f VALUES (100, 'a')") // v2 append
    spark.sql(s"INSERT INTO $c.dw.f VALUES (101, 'b')") // v3 append
    val r = spark.sql(s"CALL $c.system.compact_deltas('dw.f')").collect().toSeq
    assert(r == Seq(Row(1, 4))) // folded, new current version
    assert(spark.sql(s"SELECT count(*) FROM $c.dw.f").head.getLong(0) == 102L)
    // the fold shows in .history as one more append-kind version; the
    // folded content still matches the pre-fold head
    assert(spark.sql(s"SELECT kind FROM $c.dw.f.history WHERE version = 4").head.getString(0)
      == "append")
    assert(spark.sql(s"SELECT count(*) FROM $c.dw.f VERSION AS OF 3").head.getLong(0) == 102L)
    // nothing left to fold: folded = 0, version unchanged
    assert(spark.sql(s"CALL $c.system.compact_deltas('dw.f')").collect().toSeq == Seq(Row(0, 4)))
  }

  test("CALL evolve_partitioning: metadata-only spec change; new commits lay out and DESCRIBE under the new spec") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    spark.sql(s"CREATE TABLE $c.dw.pe AS SELECT id, " +
      s"timestamp_seconds(1704067200 + id * 3600) AS ts FROM range(48)") // v1 flat
    val r = spark.sql(s"CALL $c.system.evolve_partitioning('dw.pe', 'days:ts')").collect().toSeq
    assert(r == Seq(Row(1)))
    // metadata-only: no new version
    assert(spark.sql(s"SELECT MAX(version) FROM $c.dw.pe.history").head.getInt(0) == 1)
    // DESCRIBE reports the evolved spec
    val desc = spark.sql(s"DESCRIBE TABLE $c.dw.pe").collect().map(_.mkString("|")).mkString("\n")
    assert(desc.contains("days(ts)"), desc)
    // the next commit (INSERT = fast append) lays out under the new spec
    spark.sql(s"INSERT INTO $c.dw.pe VALUES (100, TIMESTAMP '2024-02-01 00:00:00')") // v2
    assert(spark.sql(s"SELECT COUNT(*) FROM $c.dw.pe").head.getLong(0) == 49L)
    assert(spark.sql(s"SELECT COUNT(*) FROM $c.dw.pe WHERE ts >= TIMESTAMP '2024-02-01 00:00:00'")
      .head.getLong(0) == 1L)
    // old flat version still time-travels
    assert(spark.sql(s"SELECT COUNT(*) FROM $c.dw.pe VERSION AS OF 1").head.getLong(0) == 48L)
    // empty spec drops hidden partitioning
    assert(spark.sql(s"CALL $c.system.evolve_partitioning('dw.pe', '')").collect().toSeq ==
      Seq(Row(0)))
    // a bad column fails at CALL time, not at the next commit
    assert(intercept[Exception] {
      spark.sql(s"CALL $c.system.evolve_partitioning('dw.pe', 'days:nope')").collect()
    }.getMessage.contains("nope"))
  }

  test("graft.write.sort_by TBLPROPERTY: sorted-write distribution through SQL create and ALTER") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    spark.conf.set("graft.write.targetFileBytes", (16L << 10).toString)
    try {
      spark.sql(s"""CREATE TABLE $c.dw.so
                    TBLPROPERTIES ('graft.write.sort_by'='id')
                    AS SELECT pmod(id * 2654435761, 9973) * 100000 + id AS sk, id
                    FROM range(20000)""")
      // property round-trips through the V2 table
      val props = spark.sql(s"SHOW TBLPROPERTIES $c.dw.so").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(props.get("graft.write.sort_by").contains("id"))
      // the CTAS data landed range-distributed on id: every staged
      // file carries a DISJOINT id run (physical footer-truth — a
      // plain scan's inputFiles can't show min/max skipping)
      val stso = new graft.io.SnapshotTables(spark,
        spark.conf.get(s"spark.sql.catalog.$c.root") + "/dw")
      val files = stso.read("so").inputFiles
      assert(files.length >= 3, s"expected several files, got ${files.length}")
      val spans = files.map { f =>
        val r = spark.read.parquet(f).selectExpr("min(id)", "max(id)").head()
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
      spans.sliding(2).foreach {
        case Array(a, b) => assert(b._1 > a._2, s"files overlap: $a vs $b")
        case _ =>
      }
      // ALTER can change it; an unknown column is refused at ALTER time
      spark.sql(s"ALTER TABLE $c.dw.so SET TBLPROPERTIES ('graft.write.sort_by'='sk')")
      assert(intercept[Exception] {
        spark.sql(s"ALTER TABLE $c.dw.so SET TBLPROPERTIES ('graft.write.sort_by'='nope')")
      }.getMessage.contains("nope"))
      // TBLPROPERTIES reach the CTAS path: a mor-mode CTAS really IS
      // mor — its SQL DELETE commits an O(changed) patch, not a rewrite
      spark.sql(s"""CREATE TABLE $c.dw.som
                    TBLPROPERTIES ('graft.write.mode'='mor')
                    AS SELECT id FROM range(100)""")
      spark.sql(s"DELETE FROM $c.dw.som WHERE id = 7")
      val stm = new graft.io.SnapshotTables(spark,
        spark.conf.get(s"spark.sql.catalog.$c.root") + "/dw")
      assert(stm.chainKinds("som", stm.currentVersion("som")) == Seq("full", "mor_patch"),
        "CTAS TBLPROPERTIES must reach the staged-create path")
    } finally spark.conf.unset("graft.write.targetFileBytes")
  }

  test("graft.retention.versions TBLPROPERTY: per-table retention overrides the store default") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    spark.sql(s"""CREATE TABLE $c.dw.r1
                  TBLPROPERTIES ('graft.retention.versions'='1')
                  AS SELECT 1 AS id""") // v1
    (2 to 5).foreach(i => spark.sql(s"INSERT OVERWRITE $c.dw.r1 SELECT $i AS id"))
    // retention=1: only head + 1 predecessor survive the commit passes
    assert(spark.sql(s"SELECT version FROM $c.dw.r1.history ORDER BY version").collect()
      .map(_.getInt(0)).toSeq == Seq(4, 5))
    // the store-default sibling keeps everything at this depth
    spark.sql(s"CREATE TABLE $c.dw.r2 AS SELECT 1 AS id")
    (2 to 5).foreach(i => spark.sql(s"INSERT OVERWRITE $c.dw.r2 SELECT $i AS id"))
    assert(spark.sql(s"SELECT COUNT(*) FROM $c.dw.r2.history").head.getLong(0) == 5L)
    // ALTER widens it going forward; SHOW TBLPROPERTIES reflects it
    spark.sql(s"ALTER TABLE $c.dw.r1 SET TBLPROPERTIES ('graft.retention.versions'='3')")
    val props = spark.sql(s"SHOW TBLPROPERTIES $c.dw.r1").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("graft.retention.versions").contains("3"))
    (6 to 8).foreach(i => spark.sql(s"INSERT OVERWRITE $c.dw.r1 SELECT $i AS id"))
    assert(spark.sql(s"SELECT COUNT(*) FROM $c.dw.r1.history").head.getLong(0) == 4L)
    // a malformed value fails at ALTER time
    assert(intercept[Exception] {
      spark.sql(s"ALTER TABLE $c.dw.r1 SET TBLPROPERTIES ('graft.retention.versions'='soon')")
    }.getMessage.contains("graft.retention.versions"))
    // UNSET resets to the store default
    spark.sql(s"ALTER TABLE $c.dw.r1 UNSET TBLPROPERTIES ('graft.retention.versions')")
    val st = new graft.io.SnapshotTables(spark,
      spark.conf.get(s"spark.sql.catalog.$c.root") + "/dw")
    assert(st.retentionFor("r1") == 10)
    spark.sql(s"ALTER TABLE $c.dw.r1 SET TBLPROPERTIES ('graft.write.mode'='mor')")
    spark.sql(s"ALTER TABLE $c.dw.r1 UNSET TBLPROPERTIES ('graft.write.mode')")
    assert(st.writeMode("r1") == "cow")
  }

  test("CALL expire_snapshots: age-based history expiry through SQL on the .history clock") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    spark.sql(s"CREATE TABLE $c.dw.ex AS SELECT 1 AS id") // v1
    spark.sql(s"INSERT OVERWRITE $c.dw.ex SELECT 2 AS id") // v2
    spark.sql(s"INSERT OVERWRITE $c.dw.ex SELECT 3 AS id") // v3
    // age v1/v2 an hour back on the same clock .history reads (meta mtime)
    val root = spark.conf.get(s"spark.sql.catalog.$c.root")
    val old = System.currentTimeMillis - 3600 * 1000L
    (1 to 2).foreach(v => new java.io.File(f"$root/dw/ex/metadata/v$v%05d.json").setLastModified(old))
    val cutoff = new java.sql.Timestamp(System.currentTimeMillis - 1800 * 1000L)
    val r = spark.sql(s"CALL $c.system.expire_snapshots('dw.ex', '$cutoff')").collect().toSeq
    assert(r == Seq(Row(2, 1)))
    // only the head survives; .history agrees; expired time travel fails
    assert(spark.sql(s"SELECT version FROM $c.dw.ex.history").collect().map(_.getInt(0)).toSeq
      == Seq(3))
    assert(spark.sql(s"SELECT id FROM $c.dw.ex").head.getInt(0) == 3)
    intercept[Exception](spark.sql(s"SELECT * FROM $c.dw.ex VERSION AS OF 1").collect())
  }

  test("CALL remove_orphan_files sweeps crash debris through SQL") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    spark.sql(s"CREATE TABLE $c.dw.ro AS SELECT 1 AS id")
    val root = spark.conf.get(s"spark.sql.catalog.$c.root")
    val orphan = new java.io.File(s"$root/dw/ro/snapshots/v00005")
    orphan.mkdirs()
    val r = spark.sql(s"CALL $c.system.remove_orphan_files('dw.ro', grace_minutes => 0)")
      .collect().toSeq
    assert(r == Seq(Row(1, 0)))
    assert(!orphan.exists())
    assert(spark.sql(s"SELECT id FROM $c.dw.ro").head.getInt(0) == 1)
  }

  test("CALL procedures on a governed catalog: publish_branches flips tables atomically; expire_log prunes") {
    val cat = "cgov" + java.util.UUID.randomUUID().toString.replace("-", "").take(10)
    val root = java.nio.file.Files.createTempDirectory(s"graft-cat-$cat").toString
    val log = java.nio.file.Files.createTempDirectory(s"graft-cat-$cat-log").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.conf.set(s"spark.sql.catalog.$cat.commitlog", log)
    spark.sql(s"CREATE NAMESPACE $cat.dw")
    spark.sql(s"CREATE TABLE $cat.dw.a AS SELECT 1 AS x")
    spark.sql(s"CREATE TABLE $cat.dw.b AS SELECT 10 AS y")
    val st = new graft.io.SnapshotTables(spark, s"$root/dw")
    // stage a coordinated restatement on per-table WAP branches
    st.createBranch("a", "r1"); st.commitToBranch("a", "r1", Seq(2).toDF("x"))
    st.createBranch("b", "r1"); st.commitToBranch("b", "r1", Seq(20).toDF("y"))
    // staged content invisible to governed SQL readers
    assert(spark.sql(s"SELECT x FROM $cat.dw.a").head.getInt(0) == 1)
    val pub = spark.sql(s"CALL $cat.system.publish_branches('dw.a,dw.b', 'r1')").collect().toSeq
    assert(pub.length == 1 && pub.head.getInt(0) >= 1)
    // both flipped together
    assert(spark.sql(s"SELECT x FROM $cat.dw.a").head.getInt(0) == 2)
    assert(spark.sql(s"SELECT y FROM $cat.dw.b").head.getInt(0) == 20)
    val lc = new graft.io.LakeCommits(spark, log)
    val before = lc.log.length
    spark.sql(s"CALL $cat.system.expire_log(1)").collect()
    assert(lc.log.length == 1 && before >= 1)
    // head still resolves both tables
    assert(spark.sql(s"SELECT x FROM $cat.dw.a").head.getInt(0) == 2)
    // mutating procedures publish through on governed catalogs too:
    // rollback re-pins, so the governed SQL reader follows immediately
    spark.sql(s"CALL $cat.system.rollback('dw.a', 1)").collect()
    assert(spark.sql(s"SELECT x FROM $cat.dw.a").head.getInt(0) == 1)
    // compact_deltas publishes its (content-identical) fold version:
    // governed readers keep following the head after the fold
    spark.sql(s"INSERT INTO $cat.dw.a VALUES (3)")
    spark.sql(s"INSERT INTO $cat.dw.a VALUES (4)")
    val cd = spark.sql(s"CALL $cat.system.compact_deltas('dw.a')").collect().toSeq
    assert(cd.head.getInt(0) == 1, "expected a fold")
    assert(spark.sql(s"SELECT x FROM $cat.dw.a ORDER BY x").collect().map(_.getInt(0)).toSeq
      == Seq(1, 3, 4))
    assert(spark.sql(s"SELECT kind FROM $cat.dw.a.history WHERE is_current").head.getString(0)
      == "append")
  }

  test("SQL branch reads: VERSION AS OF '<branch>' audits staged WAP content; publish flips both views") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    spark.sql(s"CREATE TABLE $c.dw.w (id INT, v STRING)")
    spark.sql(s"INSERT INTO $c.dw.w VALUES (1, 'a')")
    // fork via SQL; a branch with no commits yet reads its base
    spark.sql(s"CALL $c.system.create_branch('dw.w', 'wip')")
    assert(rows(s"SELECT * FROM $c.dw.w VERSION AS OF 'wip'") == Seq(Row(1, "a")))
    // stage onto the branch (the WAP write path); audit it through SQL
    // while plain reads keep seeing main
    val st = org.apache.spark.sql.GraftSqlBridge.catalogPlugin(spark, c)
      .asInstanceOf[SnapshotCatalog].tablesFor(Array("dw"))
    st.commitToBranch("w", "wip", Seq((1, "a"), (2, "staged")).toDF("id", "v"))
    assert(rows(s"SELECT * FROM $c.dw.w VERSION AS OF 'wip' ORDER BY id") ==
      Seq(Row(1, "a"), Row(2, "staged")))
    assert(rows(s"SELECT * FROM $c.dw.w") == Seq(Row(1, "a")))
    // branch reads are pinned: DML through them is refused
    intercept[Exception](
      spark.sql(s"DELETE FROM $c.dw.w VERSION AS OF 'wip' WHERE id = 1"))
    // numeric strings stay version reads, unknown branches stay loud
    assert(rows(s"SELECT * FROM $c.dw.w VERSION AS OF 1") == Seq(Row(1, "a")))
    intercept[Exception](rows(s"SELECT * FROM $c.dw.w VERSION AS OF 'nope'"))
    // publish: both views flip, the branch retires
    spark.sql(s"CALL $c.system.fast_forward('dw.w', 'wip')")
    assert(rows(s"SELECT * FROM $c.dw.w ORDER BY id") ==
      Seq(Row(1, "a"), Row(2, "staged")))
    intercept[Exception](rows(s"SELECT * FROM $c.dw.w VERSION AS OF 'wip'"))
    // drop_branch discards staged work without touching main
    spark.sql(s"CALL $c.system.create_branch('dw.w', 'scrap')")
    st.commitToBranch("w", "scrap", Seq((9, "junk")).toDF("id", "v"))
    spark.sql(s"CALL $c.system.drop_branch('dw.w', 'scrap')")
    intercept[Exception](rows(s"SELECT * FROM $c.dw.w VERSION AS OF 'scrap'"))
    assert(rows(s"SELECT count(*) AS c FROM $c.dw.w") == Seq(Row(2L)))
  }

  /** Fresh catalog WITH its root exposed, for layout-on-disk asserts. */
  private def newCatalogWithRoot(): (String, String) = synchronized {
    n += 1
    val cat = s"cspec$n"
    val root = java.nio.file.Files.createTempDirectory(s"graft-cat-$cat").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  test("branch-addressed expire_snapshots / remove_orphan_files maintain the branch line only") {
    val (c, root) = newCatalogWithRoot()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    spark.sql(s"CREATE TABLE $c.dw.t AS SELECT 1 AS id, 'a' AS v")
    spark.sql(s"INSERT INTO $c.dw.t VALUES (2, 'b')")
    spark.sql(s"CALL $c.system.create_branch('dw.t', 'wip')")
    val st = org.apache.spark.sql.GraftSqlBridge.catalogPlugin(spark, c)
      .asInstanceOf[SnapshotCatalog].tablesFor(Array("dw"))
    // three branch commits -> branch history 1,2,3
    st.commitToBranch("t", "wip", Seq((1, "a"), (2, "b"), (3, "s1")).toDF("id", "v"))
    st.commitToBranch("t", "wip", Seq((1, "a"), (2, "b"), (3, "s2")).toDF("id", "v"))
    st.commitToBranch("t", "wip", Seq((1, "a"), (2, "b"), (3, "s3")).toDF("id", "v"))
    val bt = st.branchTablesFor("t")
    assert(bt.history("wip") == Seq(1, 2, 3))
    // expire the BRANCH line: cutoff in the future, keep the head only
    val out = rows(s"CALL $c.system.expire_snapshots('dw.t', '2099-01-01 00:00:00', 1, 'wip')")
    assert(out == Seq(Row(2, 1)), out.toString) // 2 expired, 1 retained
    assert(bt.history("wip") == Seq(3))
    // main's line untouched; branch still reads its head
    assert(st.history("t") == Seq(1, 2))
    assert(rows(s"SELECT v FROM $c.dw.t VERSION AS OF 'wip' WHERE id = 3") == Seq(Row("s3")))
    // branch-addressed orphan sweep: plant crash debris on the BRANCH
    // line (a meta-less version dir), sweep it, main untouched
    val debris = new java.io.File(s"$root/dw/t/branches/wip/snapshots/v00099")
    debris.mkdirs()
    new java.io.File(debris, "junk.parquet").createNewFile()
    val swept = rows(s"CALL $c.system.remove_orphan_files('dw.t', 0, 'wip')")
    assert(swept.head.getInt(0) >= 1, swept.toString)
    assert(!debris.exists())
    assert(rows(s"SELECT count(*) AS n FROM $c.dw.t") == Seq(Row(2L)))
    // unknown branch stays loud
    intercept[Exception](rows(s"CALL $c.system.expire_snapshots('dw.t', '2099-01-01 00:00:00', 1, 'nope')"))
    // un-addressed calls keep their old shape (defaults: whole table)
    val mainOut = rows(s"CALL $c.system.expire_snapshots('dw.t', '1970-01-01 00:00:01', 1)")
    assert(mainOut.head.getInt(0) == 0) // nothing older than epoch+1s... all retained
  }

  test(".partitions metadata relation: per-partition rows/files/bytes, MOR deletes separate") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    spark.sql(s"CREATE TABLE $c.dw.ev (id BIGINT, cat STRING, v DOUBLE) PARTITIONED BY (cat)")
    spark.sql(s"INSERT INTO $c.dw.ev SELECT id, CASE WHEN id % 3 = 0 THEN 'a' " +
      s"WHEN id % 3 = 1 THEN 'b' ELSE 'c' END, CAST(id AS DOUBLE) / 2 FROM range(3000)")
    val parts = rows(s"SELECT * FROM $c.dw.ev.partitions ORDER BY partition")
    assert(parts.map(_.getString(0)) == Seq("cat=a", "cat=b", "cat=c"), parts.toString)
    assert(parts.map(_.getLong(1)) == Seq(1000L, 1000L, 1000L)) // record_count
    assert(parts.forall(r => r.getLong(2) >= 1 && r.getLong(3) > 0)) // files, bytes
    assert(parts.forall(r => r.getLong(4) == 0 && r.getLong(5) == 0)) // no deletes yet
    // appends accumulate per partition across chain segments (committed
    // tables read partition columns LAST: order is id, v, cat)
    spark.sql(s"INSERT INTO $c.dw.ev VALUES (9001, 1.0, 'a'), (9002, 2.0, 'a')")
    val after = rows(s"SELECT record_count, file_count FROM $c.dw.ev.partitions " +
      s"WHERE partition = 'cat=a'")
    assert(after.head.getLong(0) == 1002L && after.head.getLong(1) >= 2)
    // a merge-on-read DELETE shows up as pending delete content, with
    // data rows unchanged (file-level truth before resolution)
    spark.sql(s"ALTER TABLE $c.dw.ev SET TBLPROPERTIES ('graft.write.mode'='mor')")
    spark.sql(s"DELETE FROM $c.dw.ev WHERE id IN (3, 9, 12)")
    val mor = rows(s"SELECT record_count, delete_record_count, delete_file_count " +
      s"FROM $c.dw.ev.partitions ORDER BY partition").map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(mor.map(_._1).sum == 3002L, mor.toString)
    assert(mor.map(_._2).sum == 3L, s"3 tombstone keys expected: $mor")
    // the relation answers from metadata + footers only — and the live
    // read still sees the resolved row count
    assert(rows(s"SELECT count(*) AS n FROM $c.dw.ev") == Seq(Row(2999L)))
    // an unpartitioned table reports one "" partition row
    spark.sql(s"CREATE TABLE $c.dw.flat AS SELECT id FROM range(100)")
    val flat = rows(s"SELECT partition, record_count FROM $c.dw.flat.partitions")
    assert(flat == Seq(Row("", 100L)))
    // hidden-transform partitioning surfaces its __p_* directory run
    spark.sql(s"CREATE TABLE $c.dw.hid (id BIGINT, v STRING) PARTITIONED BY (bucket(4, id))")
    spark.sql(s"INSERT INTO $c.dw.hid SELECT id, CAST(id AS STRING) FROM range(400)")
    val hid = rows(s"SELECT partition, record_count FROM $c.dw.hid.partitions ORDER BY partition")
    assert(hid.length == 4 && hid.map(_.getLong(1)).sum == 400L, hid.toString)
    assert(hid.forall(_.getString(0).startsWith("__p_bucket")), hid.toString)
  }
  test("SHOW CREATE TABLE / DESCRIBE EXTENDED round-trip the graft surface") {
    val c = newCatalog()
    spark.sql(s"CREATE NAMESPACE $c.dw")
    spark.sql(s"CREATE TABLE $c.dw.t (k INT, p STRING) PARTITIONED BY (p) " +
      "TBLPROPERTIES('graft.stats.columns'='k','graft.write.mode'='mor')")
    spark.sql(s"INSERT INTO $c.dw.t VALUES (1, 'a')")
    val ddl = spark.sql(s"SHOW CREATE TABLE $c.dw.t").collect().head.getString(0)
    assert(ddl.contains("USING graft-snapshots"))
    assert(ddl.contains("PARTITIONED BY (p)"))
    assert(ddl.contains("'graft.stats.columns' = 'k'"))
    assert(ddl.contains("'graft.write.mode' = 'mor'"))
    val ext = spark.sql(s"DESCRIBE EXTENDED $c.dw.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(ext.get("Provider").contains("graft-snapshots"))
    // the catalog reports size statistics, so join planning (broadcast
    // thresholds) sees real numbers for snapshot tables
    assert(ext.get("Statistics").exists(_.contains("bytes")))
  }
}
