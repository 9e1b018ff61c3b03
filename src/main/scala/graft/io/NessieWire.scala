package graft.io

import java.net.{InetSocketAddress, URI, URLDecoder, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import scala.annotation.tailrec
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** NESSIE-V2-SHAPED REST wire over a [[CommitLog]]. The reference
  * registers its catalog by URI (`airflow/dags/datalake_gold_spark_dag.py:181-186`
  * sets `uri=http://nessie:19120/...`) and Spark engines talk to it
  * over REST; a migrating shop's engines point at a catalog URL, not a
  * shared commit-log directory. No Nessie server is needed: the wire
  * contract is rebuilt from Nessie's public API v2 shapes and served
  * over loopback by the JDK's HttpServer — no new dependency:
  *
  *   GET  /api/v2/config                        defaultBranch + spec version
  *   GET  /api/v2/trees                         named references w/ hashes
  *   GET  /api/v2/trees/main[@hash]             one reference (hash-addressed)
  *   GET  /api/v2/trees/main[@hash]/entries     content keys
  *   GET  /api/v2/trees/main[@hash]/contents/K  the pin of content key K
  *   POST /api/v2/trees/main/history/commit     CAS commit: expectedHash +
  *                                              PUT {key, <pin field>} ops;
  *                                              HTTP 409 on a stale hash
  *
  * The catalog serves METADATA PINS only (a content's `version` or
  * `snapshotId`, per the log's [[PinCodec]]); engines read data
  * straight from shared storage at that pin — the Nessie/Iceberg
  * division of labor. Commit hashes address immutable log commits, so
  * one hash read across N tables is the both-or-neither multi-table
  * consistency the faces' `readAll` gives in-process. A hash the log
  * never minted, or one `expireLog` removed, is a 404. `keyOf` maps a
  * content key to the log's key and `nameOf` back: table name ↔
  * `<root>|<table>` for [[LakeHttpServer]], a table dir ↔ its
  * qualified spelling for [[IcebergLakeHttpServer]]. [[NessieClient]]
  * is the matching client.
  *
  * This is a faithful rebuild of the protocol SHAPES (refs, hash
  * addressing, CAS commits, 409 conflict semantics), not a drop-in
  * Nessie server — a real deployment still needs the Nessie service. */
class NessieServer[P](lake: CommitLog[P], keyOf: String => String, nameOf: String => String,
    port: Int) {

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  @volatile private var started = false

  def boundPort: Int = server.getAddress.getPort
  def url: String = s"http://127.0.0.1:$boundPort"

  private def hashOf(c: Int): String = f"$c%016x"

  /** The commit a ref hash names (head when absent) with its mapping —
    * only for the canonical spelling of a commit the log still holds. */
  private def resolve(hash: String): Option[(Int, Map[String, P])] =
    if (hash == null) { val c = lake.headCommit; Some(c -> lake.state(c)) }
    else scala.util.Try(Integer.parseInt(hash, 16)).toOption.filter(c => hashOf(c) == hash)
      .flatMap(c => lake.find(c).map(c -> _))

  private def refJson(c: Int): String =
    s"""{"name":"main","type":"BRANCH","hash":"${hashOf(c)}"}"""

  private def send(ex: HttpExchange, code: Int, body: String): Unit = {
    val b = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, b.length)
    ex.getResponseBody.write(b)
    ex.close()
  }

  private def notFound(ex: HttpExchange, errorCode: String, msg: String): Unit =
    send(ex, 404, s"""{"message":"${Json.escape(msg)}","errorCode":"$errorCode"}""")

  private def conflict(ex: HttpExchange, expected: String, actual: Int): Unit =
    send(ex, 409, s"""{"message":"Named reference 'main' changed: expected """ +
      s"""${Json.escape(expected)}, actual ${hashOf(actual)}"}""")

  private val TreePath = "/api/v2/trees/([^/@]+)(@([0-9a-f]+))?(/.*)?".r

  server.createContext("/api/v2/", (ex: HttpExchange) => {
    try {
      val path = ex.getRequestURI.getPath
      (ex.getRequestMethod, path) match {
        case ("GET", "/api/v2/config") =>
          send(ex, 200, """{"defaultBranch":"main","maxSupportedApiVersion":2,"specVersion":"2.0.0"}""")
        case ("GET", "/api/v2/trees") =>
          send(ex, 200, s"""{"references":[${refJson(lake.headCommit)}]}""")
        case ("POST", TreePath("main", _, _, "/history/commit")) => commit(ex)
        case ("GET", TreePath("main", _, hash, rest)) => resolve(hash) match {
          case None => notFound(ex, "REFERENCE_NOT_FOUND", s"reference 'main@$hash' not found")
          case Some((c, state)) => Option(rest).getOrElse("") match {
            case "" => send(ex, 200, refJson(c))
            case "/entries" =>
              val entries = state.keys.map(nameOf).toSeq.sorted.map(n =>
                s"""{"name":{"elements":["${Json.escape(n)}"]},"type":"ICEBERG_TABLE"}""")
              send(ex, 200, entries.mkString("""{"entries":[""", ",", "]}"))
            case p if p.startsWith("/contents/") =>
              val k = URLDecoder.decode(p.stripPrefix("/contents/"), "UTF-8")
              state.get(keyOf(k)) match {
                case Some(v) => send(ex, 200,
                  s"""{"content":{"type":"ICEBERG_TABLE","id":"${Json.escape(k)}",""" +
                    s""""${lake.pin.field}":${lake.pin.toLong(v)}},"effectiveReference":${refJson(c)}}""")
                case None => notFound(ex, "CONTENT_NOT_FOUND", s"key '$k' not found at ${hashOf(c)}")
              }
            case _ => send(ex, 404, s"""{"message":"no route GET ${Json.escape(path)}"}""")
          }
        }
        case (method, _) => send(ex, 404, s"""{"message":"no route $method ${Json.escape(path)}"}""")
      }
    } catch {
      case e: Exception => send(ex, 400, s"""{"message":"${Json.escape(e.getMessage)}"}""")
    }
  })

  /** The anchored CAS commit. The synchronized block serializes HTTP
    * clients only; the expected parent rides into the commit's own
    * file-CAS, so a direct file-CAS publisher landing between the hash
    * check and the commit surfaces as 409, never a silent rebase over
    * the interloper's pins. Every PUT is decoded before anything is
    * written: a malformed pin is a 400 with no commit file. */
  private def commit(ex: HttpExchange): Unit = this.synchronized {
    val body = Json.mapper.readTree(ex.getRequestBody)
    val expected = body.get("expectedHash").asText
    val head = lake.headCommit
    if (expected != hashOf(head)) conflict(ex, expected, head)
    else {
      val puts = body.get("operations").asScala.map { op =>
        require(op.get("op").asText.equalsIgnoreCase("PUT"),
          s"only PUT operations are supported, got ${op.get("op")}")
        keyOf(op.get("key").asText) -> lake.pin.decode(op.get(lake.pin.field))
      }.toMap
      try send(ex, 200, s"""{"targetBranch":${refJson(lake.advance(puts, Some(head)))}}""")
      catch { case CommitLog.StaleParentCommit(_, actual) => conflict(ex, expected, actual) }
    }
  }

  def start(): this.type = { server.start(); started = true; this }
  def stop(): Unit = if (started) server.stop(0)
}

/** Client half of the wire (JDK HttpClient): reads pin a reference hash
  * for both-or-neither multi-table consistency; publishes are CAS
  * commits with bounded 409-rebase retries — the documented Nessie
  * client loop. */
class NessieClient[P](baseUrl: String, pin: PinCodec[P]) {
  private val http = HttpClient.newHttpClient()

  private def get(path: String): (Int, JsonNode) = {
    val r = http.send(HttpRequest.newBuilder(URI.create(baseUrl + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode, Json.mapper.readTree(r.body))
  }

  private def at(hash: Option[String]): String = hash.map("@" + _).getOrElse("")

  /** (branch name, commit hash) of main's head. */
  def mainRef(): (String, String) = {
    val (code, j) = get("/api/v2/trees/main")
    require(code == 200, s"trees/main -> $code")
    (j.get("name").asText, j.get("hash").asText)
  }

  /** The governed content keys, at head or at a reference hash. */
  def entries(hash: Option[String] = None): Seq[String] = {
    val (code, j) = get(s"/api/v2/trees/main${at(hash)}/entries")
    require(code == 200, s"entries -> $code")
    j.get("entries").asScala.map(_.get("name").get("elements").get(0).asText).toSeq
  }

  /** The pin of content key `key`, at head or at a reference hash;
    * None when the log does not govern it there. */
  protected def pinOf(key: String, hash: Option[String]): Option[P] = {
    val enc = URLEncoder.encode(key, "UTF-8")
    val (code, j) = get(s"/api/v2/trees/main${at(hash)}/contents/$enc")
    if (code == 404 && j.path("errorCode").asText == "CONTENT_NOT_FOUND") None
    else {
      require(code == 200, s"contents -> $code: ${j.path("message").asText}")
      Some(pin.decode(j.get("content").get(pin.field)))
    }
  }

  /** CAS-commit the given (content key, pin) PUTs; on 409 re-reads the
    * head hash and retries (bounded) — both racers' updates land in
    * adjacent commits. Returns the new head hash. */
  def commit(puts: Seq[(String, P)], maxRetries: Int = 10): String = {
    val body = Json.mapper.createObjectNode()
    val ops = body.putArray("operations")
    puts.foreach { case (k, v) =>
      ops.addObject().put("op", "PUT").put("key", k).put(pin.field, pin.toLong(v))
    }
    @tailrec def attempt(lost: Int): String = {
      body.put("expectedHash", mainRef()._2)
      val r = http.send(
        HttpRequest.newBuilder(URI.create(baseUrl + "/api/v2/trees/main/history/commit"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(Json.mapper.writeValueAsString(body))).build(),
        HttpResponse.BodyHandlers.ofString())
      if (r.statusCode == 200) Json.mapper.readTree(r.body).get("targetBranch").get("hash").asText
      else {
        require(r.statusCode == 409, s"commit -> ${r.statusCode}: ${r.body}")
        require(lost < maxRetries, s"commit lost $maxRetries CAS races: ${r.body}")
        attempt(lost + 1)
      }
    }
    attempt(0)
  }
}
