package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The Nessie-shaped wire contract over loopback: named refs with
  * hashes, hash-addressed reads, CAS commits with 409-conflict +
  * client rebase, both-or-neither multi-table visibility — driven
  * through real HTTP (JDK server + client), never in-process calls. */
class LakeHttpSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(): (SnapshotTables, LakeCommits, LakeHttpServer, RemoteLake) = {
    val root = java.nio.file.Files.createTempDirectory("graft-lakehttp").toString
    val logRoot = java.nio.file.Files.createTempDirectory("graft-lakehttp-log").toString
    val st = new SnapshotTables(spark, root)
    val lake = new LakeCommits(spark, logRoot)
    val server = new LakeHttpServer(lake, st).start()
    (st, lake, server, new RemoteLake(server.url))
  }

  test("config/refs/entries/contents round-trip over real HTTP") {
    val (st, _, server, client) = fixture()
    try {
      st.overwriteTable(Seq((1, "a"), (2, "b")).toDF("id", "v"), "t1")
      st.overwriteTable(Seq((10, "x")).toDF("id", "v"), "t2")
      val h0 = client.commit(Seq("t1" -> 1, "t2" -> 1))
      assert(client.mainRef()._2 == h0)
      assert(client.entries().toSet == Set("t1", "t2"))
      assert(client.pinnedVersion("t1").contains(1))
      assert(client.pinnedVersion("nope").isEmpty)
      assert(client.read(st, "t1").count() == 2)
      assert(client.read(st, "t2").count() == 1)
    } finally server.stop()
  }

  test("hash addressing gives both-or-neither multi-table reads across a racing publish") {
    val (st, _, server, client) = fixture()
    try {
      st.overwriteTable((1 to 5).map(i => (i, "v1")).toDF("id", "v"), "a")
      st.overwriteTable((1 to 5).map(i => (i, "v1")).toDF("id", "v"), "b")
      client.commit(Seq("a" -> 1, "b" -> 1))
      val (_, pinned) = client.mainRef()
      // both tables advance in one later commit
      st.append((6 to 9).map(i => (i, "v2")).toDF("id", "v"), "a")
      st.append((6 to 9).map(i => (i, "v2")).toDF("id", "v"), "b")
      client.commit(Seq("a" -> 2, "b" -> 2))
      // a reader pinned at the OLD hash sees the old state of BOTH
      assert(client.read(st, "a", Some(pinned)).count() == 5)
      assert(client.read(st, "b", Some(pinned)).count() == 5)
      // head sees the new state of both
      assert(client.read(st, "a").count() == 9)
      assert(client.read(st, "b").count() == 9)
    } finally server.stop()
  }

  test("a stale expectedHash is a 409; the client rebase makes both racers land") {
    val (st, lake, server, client) = fixture()
    try {
      st.overwriteTable(Seq((1, "x")).toDF("id", "v"), "t")
      client.commit(Seq("t" -> 1))
      // direct stale commit (no rebase): must surface as a CAS loss
      val staleBody = """{"expectedHash":"0000000000000000","operations":[{"op":"PUT","key":"t","version":1}]}"""
      val http = java.net.http.HttpClient.newHttpClient()
      val r = http.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(server.url + "/api/v2/trees/main/history/commit"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(staleBody)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode == 409, s"got ${r.statusCode}: ${r.body}")

      // two racing clients with the rebase loop: both land, adjacent commits
      st.append(Seq((2, "y")).toDF("id", "v"), "t")
      st.overwriteTable(Seq((9, "z")).toDF("id", "v"), "u")
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val before = lake.headCommit
      val f1 = Future(new RemoteLake(server.url).commit(Seq("t" -> 2)))
      val f2 = Future(new RemoteLake(server.url).commit(Seq("u" -> 1)))
      Await.result(Future.sequence(Seq(f1, f2)), 60.seconds)
      assert(lake.headCommit == before + 2)
      assert(client.pinnedVersion("t").contains(2))
      assert(client.pinnedVersion("u").contains(1))
    } finally server.stop()
  }

  test("error bodies stay parseable JSON when names/messages carry quotes or backslashes") {
    val (_, _, server, _) = fixture()
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      // a key with a quote and a backslash lands interpolated in the
      // 404 body — it must parse, with the characters intact
      val weird = java.net.URLEncoder.encode("""ta"b\le""", "UTF-8")
      val r = http.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(
          server.url + s"/api/v2/trees/main/contents/$weird")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode == 404)
      val msg = om.readTree(r.body).get("message").asText
      assert(msg.contains("""ta"b\le"""))
    } finally server.stop()
  }

  test("a hash the log never minted is a 404 on the ref, its entries and its contents") {
    val (_, lake, server, client) = fixture()
    try {
      (1 to 3).foreach(v => client.commit(Seq("t" -> v)))
      lake.expireLog(keep = 2)
      // an alias of c2's hash, a hash past the head, and expired c1's hash
      for (h <- Seq("0000000100000002", "0000000000000004", "0000000000000001");
           sub <- Seq("", "/entries", "/contents/t")) {
        val (code, body) = LakeHttpSpec.call(server.url + s"/api/v2/trees/main@$h$sub")
        assert(code == 404, s"main@$h$sub -> $code: $body")
      }
      assert(client.pinnedVersion("t", Some("0000000000000002")).contains(2))
    } finally server.stop()
  }

  test("a commit PUT whose version is not a positive integral int is a 400 and writes nothing") {
    val (_, lake, server, client) = fixture()
    try {
      val head = client.commit(Seq("t" -> 1))
      Seq("\"abc\"", "1.9", "9999999999", "0", "-1", "null").foreach { v =>
        val (code, body) = LakeHttpSpec.call(server.url + "/api/v2/trees/main/history/commit",
          Some(s"""{"expectedHash":"$head","operations":[{"op":"PUT","key":"t","version":$v}]}"""))
        assert(code == 400, s"version $v -> $code: $body")
      }
      assert(client.mainRef()._2 == head && lake.log == Seq(1))
      assert(client.pinnedVersion("t").contains(1))
    } finally server.stop()
  }
}

object LakeHttpSpec {
  private val http = java.net.http.HttpClient.newHttpClient()

  /** One raw request (a GET, or a POST of `body`): (status, body). */
  def call(url: String, body: Option[String] = None): (Int, String) = {
    val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
    val r = http.send(
      body.fold(b.GET())(p => b.POST(java.net.http.HttpRequest.BodyPublishers.ofString(p))).build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (r.statusCode, r.body)
  }
}
