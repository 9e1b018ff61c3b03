package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The URI MOUNT for foreign Iceberg warehouses
  * ([[IcebergLakeHttpServer]] / [[RemoteIcebergLake]] and the
  * `spark.sql.catalog.<n>.uri=` mode on
  * [[graft.catalog.IcebergWarehouseCatalog]]) — the Nessie-v2-shaped
  * wire over [[IcebergLakeCommits]], real loopback sockets. Pins:
  *
  *  - wire basics: entries, pinned snapshots, key normalization
  *    (`/wh/db/t` asks resolve the qualified `file:/wh/db/t` pins)
  *  - TORN-PAIR guard over the wire: two tables read at ONE reference
  *    hash stay consistent even when a publish lands between the reads
  *  - CAS RACE over the wire: two clients commit against the same
  *    expectedHash — the loser gets 409, rebases, BOTH land
  *  - the uri-mounted SQL catalog: unpublished table-line commits are
  *    invisible to 3-level-name SQL; explicit VERSION AS OF wins; a
  *    wire publish flips visibility; commitlog+uri together refuse */
class IcebergLakeHttpSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-icelhttp-$tag").toString

  /** Two exported tables (silver rows + gold count) under one
    * warehouse; returns (wh, liDir, aggDir). */
  private def warehouse(tag: String, n: Int): (String, String, String) = {
    val wh = tmp(s"$tag-wh")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(wh, "dw"))
    val st = new SnapshotTables(spark, tmp(s"$tag-snap"))
    st.overwriteTable((1 to n).map(i => (i.toLong, s"v$i")).toDF("id", "v"), "li")
    IcebergExport.export(st, "li", s"$wh/dw/li")
    st.overwriteTable(Seq(n.toLong).toDF("n"), "li_agg")
    IcebergExport.export(st, "li_agg", s"$wh/dw/li_agg")
    (wh, s"$wh/dw/li", s"$wh/dw/li_agg")
  }

  private def withServer[T](lake: IcebergLakeCommits)(f: IcebergLakeHttpServer => T): T = {
    val srv = new IcebergLakeHttpServer(lake).start()
    try f(srv) finally srv.stop()
  }

  test("wire basics: entries, pins, key normalization") {
    val (_, liDir, aggDir) = warehouse("wire", 5)
    val lake = new IcebergLakeCommits(spark, tmp("wire-log"))
    lake.publish(Seq(liDir, aggDir))
    withServer(lake) { srv =>
      val remote = new RemoteIcebergLake(srv.url)
      val (name, hash) = remote.mainRef()
      assert(name == "main" && hash.nonEmpty)
      assert(remote.entries().size == 2)
      // the RAW dir spelling resolves the qualified key server-side
      val pin = remote.pinnedSnapshot(liDir)
      assert(pin.contains(IcebergImport.currentSnapshot(spark, liDir).get))
      assert(remote.pinnedSnapshot(tmp("nope")).isEmpty)
    }
  }

  test("torn-pair guard: two tables read at ONE hash survive a mid-read publish") {
    val (_, liDir, aggDir) = warehouse("torn", 10)
    val lake = new IcebergLakeCommits(spark, tmp("torn-log"))
    lake.publish(Seq(liDir, aggDir))
    withServer(lake) { srv =>
      val remote = new RemoteIcebergLake(srv.url)
      val (_, hash) = remote.mainRef()
      val liPin = remote.pinnedSnapshot(liDir, Some(hash)).get
      // a full restatement publishes BETWEEN the two pinned reads —
      // the torn-pair failure a head-chasing reader would suffer
      IcebergAppend.append(spark, liDir, (11 to 15).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
      IcebergAppend.overwrite(spark, aggDir, Seq(15L).toDF("n"))
      remote.publish(spark, Seq(liDir, aggDir))
      val aggPin = remote.pinnedSnapshot(aggDir, Some(hash)).get
      // both reads resolve the OLD consistent pair: stored gold(10) = count(li@pin)
      assert(IcebergImport.read(spark, liDir, Some(liPin)).count() == 10)
      assert(IcebergImport.read(spark, aggDir, Some(aggPin)).head().getLong(0) == 10L)
      // the new head hash resolves the NEW consistent pair
      val (_, h2) = remote.mainRef()
      assert(IcebergImport.read(spark, liDir,
        remote.pinnedSnapshot(liDir, Some(h2))).count() == 15)
      assert(IcebergImport.read(spark, aggDir,
        remote.pinnedSnapshot(aggDir, Some(h2))).head().getLong(0) == 15L)
    }
  }

  test("CAS race over the wire: the loser gets 409, rebases, both land") {
    val (_, liDir, aggDir) = warehouse("race", 3)
    val lake = new IcebergLakeCommits(spark, tmp("race-log"))
    lake.publish(Seq(liDir, aggDir))
    withServer(lake) { srv =>
      // two clients, each re-pinning ONE table; fire concurrently so
      // at least one loses the CAS slot and must rebase through 409
      val liSnap = IcebergImport.currentSnapshot(spark, liDir).get
      val aggSnap = IcebergImport.currentSnapshot(spark, aggDir).get
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val f1 = Future(new RemoteIcebergLake(srv.url).commit(Seq((liDir, liSnap))))
      val f2 = Future(new RemoteIcebergLake(srv.url).commit(Seq((aggDir, aggSnap))))
      Await.result(f1, 30.seconds); Await.result(f2, 30.seconds)
      // both pins present at the final head — neither racer's update lost
      assert(lake.headCommit == 3) // initial publish + two racing commits
      val remote = new RemoteIcebergLake(srv.url)
      assert(remote.pinnedSnapshot(liDir).contains(liSnap))
      assert(remote.pinnedSnapshot(aggDir).contains(aggSnap))
      // a deliberately stale expectedHash refuses with 409 (no retry path)
      val http = java.net.http.HttpClient.newHttpClient()
      val r = http.send(java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(srv.url + "/api/v2/trees/main/history/commit"))
          .header("Content-Type", "application/json")
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
            s"""{"expectedHash":"0000000000000001","operations":[]}"""))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode == 409 && r.body.contains("changed"))
    }
  }

  test("anchored CAS: a direct publisher racing the hash check surfaces as 409, not a lost update") {
    val (_, liDir, aggDir) = warehouse("anchor", 3)
    val lake = new IcebergLakeCommits(spark, tmp("anchor-log"))
    lake.publish(Seq(liDir)) // c1
    val liSnap = IcebergImport.currentSnapshot(spark, liDir).get
    val aggSnap = IcebergImport.currentSnapshot(spark, aggDir).get
    // the window the server's hash pre-check cannot see: a DIRECT
    // file-CAS publisher lands AFTER the check passed. The anchored
    // publishExact makes the expected parent part of the commit's own
    // file-CAS — the stale publish is refused, never silently rebased
    // over the interloper's pins.
    val c2 = lake.publishExact(Seq(liDir -> (liSnap + 100)), expectedParent = Some(1))
    assert(c2 == 2) // the "interloper": anchored at the true head, lands
    val e = intercept[CommitLog.StaleParentCommit] {
      lake.publishExact(Seq(liDir -> liSnap), expectedParent = Some(1)) // parent 1 is stale now
    }
    assert(e.expected == 1 && e.actual == 2)
    // the interloper's pin survived — no lost update
    assert(lake.pinnedSnapshot(liDir).contains(liSnap + 100))
    // re-anchored at the true head, the loser's retry lands cleanly
    assert(lake.publishExact(Seq(aggDir -> aggSnap), expectedParent = Some(2)) == 3)
    assert(lake.pinnedSnapshot(liDir).contains(liSnap + 100) &&
      lake.pinnedSnapshot(aggDir).contains(aggSnap))
  }

  test("uri-mounted SQL catalog: pins govern 3-level names over the wire") {
    val (wh, liDir, aggDir) = warehouse("mount", 10)
    val lake = new IcebergLakeCommits(spark, tmp("mount-log"))
    lake.publish(Seq(liDir, aggDir))
    withServer(lake) { srv =>
      val cat = "icehttp"
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.IcebergWarehouseCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      spark.conf.set(s"spark.sql.catalog.$cat.uri", srv.url)
      // poison: lands on the table line, never published — invisible
      IcebergAppend.append(spark, liDir, Seq((99L, "poison")).toDF("id", "v"))
      assert(spark.sql(s"SELECT COUNT(*) FROM $cat.dw.li").head().getLong(0) == 10L)
      // explicit time travel to the head snapshot still wins over the pin
      val head = IcebergImport.currentSnapshot(spark, liDir).get
      assert(spark.sql(s"SELECT COUNT(*) FROM $cat.dw.li VERSION AS OF $head")
        .head().getLong(0) == 11L)
      // a WIRE publish flips visibility
      new RemoteIcebergLake(srv.url).publish(spark, Seq(liDir))
      assert(spark.sql(s"SELECT COUNT(*) FROM $cat.dw.li").head().getLong(0) == 11L)
    }
    // configuring both transports refuses loudly
    val e = intercept[Exception] {
      spark.conf.set("spark.sql.catalog.iceboth",
        classOf[graft.catalog.IcebergWarehouseCatalog].getName)
      spark.conf.set("spark.sql.catalog.iceboth.warehouse", wh)
      spark.conf.set("spark.sql.catalog.iceboth.commitlog", tmp("both-log"))
      spark.conf.set("spark.sql.catalog.iceboth.uri", "http://127.0.0.1:1")
      spark.sql("SELECT COUNT(*) FROM iceboth.dw.li").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("not both")))
  }

  test("a hash the log never minted is a 404 on the ref, its entries and its contents") {
    val lake = new IcebergLakeCommits(spark, tmp("hash-log"))
    val dir = tmp("hash-t")
    withServer(lake) { srv =>
      val remote = new RemoteIcebergLake(srv.url)
      (1 to 3).foreach(i => remote.commit(Seq(dir -> i.toLong)))
      lake.expireLog(keep = 2)
      val enc = java.net.URLEncoder.encode(dir, "UTF-8")
      // an alias of c2's hash, a hash past the head, and expired c1's hash
      for (h <- Seq("0000000100000002", "0000000000000004", "0000000000000001");
           sub <- Seq("", "/entries", s"/contents/$enc")) {
        val (code, body) = LakeHttpSpec.call(srv.url + s"/api/v2/trees/main@$h$sub")
        assert(code == 404, s"main@$h$sub -> $code: $body")
      }
      assert(remote.pinnedSnapshot(dir, Some("0000000000000002")).contains(2L))
    }
  }

  test("a commit PUT whose snapshotId is not an integral long is a 400 and writes nothing") {
    val lake = new IcebergLakeCommits(spark, tmp("put-log"))
    val dir = tmp("put-t")
    withServer(lake) { srv =>
      val remote = new RemoteIcebergLake(srv.url)
      val head = remote.commit(Seq(dir -> 7L))
      Seq("\"abc\"", "1.9", "99999999999999999999", "null").foreach { v =>
        val (code, body) = LakeHttpSpec.call(srv.url + "/api/v2/trees/main/history/commit",
          Some(s"""{"expectedHash":"$head","operations":[{"op":"PUT","key":"$dir","snapshotId":$v}]}"""))
        assert(code == 400, s"snapshotId $v -> $code: $body")
      }
      assert(remote.mainRef()._2 == head && lake.log == Seq(1))
      assert(remote.pinnedSnapshot(dir).contains(7L))
    }
  }
}
