package graft.io

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** THE ICEBERG REST CATALOG WIRE (X144) — the ecosystem's converged
  * catalog protocol (the public Iceberg REST OpenAPI), rebuilt over a
  * foreign warehouse directory with zero new dependencies. The r18
  * mount (X139) speaks the Nessie-v2 wire the reference's own
  * deployment registers; a migrating user's SECOND catalog speaks
  * this one:
  *
  *   GET  /v1/config                                   defaults+overrides
  *   GET  /v1/namespaces                               namespace list
  *   GET  /v1/namespaces/{ns}/tables                   table identifiers
  *   GET  /v1/namespaces/{ns}/tables/{t}               LoadTableResult:
  *                                                     metadata-location +
  *                                                     inline metadata
  *   HEAD /v1/namespaces/{ns}/tables/{t}               existence probe
  *   POST /v1/namespaces/{ns}/tables/{t}               CommitTableRequest:
  *                                                     requirements+updates;
  *                                                     HTTP 409 on a failed
  *                                                     requirement
  *                                                     (CommitFailedException)
  *
  * Division of labor is the protocol's own: the CATALOG owns each
  * table's current metadata pointer. The server pins a
  * metadata-location per table (initialized from the directory head at
  * first load) and answers loads FROM THE PIN — engine commits landed
  * directly on the table directory (graft's jar-free writers) are
  * STAGED: invisible through the catalog until a commit request
  * publishes them. A commit validates the spec's requirements against
  * the PINNED state (`assert-ref-snapshot-id` on a named ref,
  * `assert-table-uuid`), applies the supported update actions
  * (`add-snapshot`, `set-snapshot-ref`, `set-properties`,
  * `remove-properties`) to a copy of the pinned document, writes ONE
  * new metadata file (create-exclusive — `rest-<n>-<uuid>`-named, a
  * spelling the directory readers' version resolution ignores, so the
  * catalog's files never fight the table line's own v<N> chain) and
  * flips the pin. A stale requirement answers HTTP 409 with the
  * spec's CommitFailedException error body — the signal the standard
  * client retry loop keys on. Unknown requirement/update actions
  * refuse loudly with 400, never silently drop.
  *
  * Like the X120/X139 wires: a faithful rebuild of the protocol
  * SHAPES for the loopback testbed, not a multi-tenant server. */
final class IcebergRestHttpServer(spark: SparkSession, warehouse: String, port: Int = 0) {

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  @volatile private var started = false
  private val om = new com.fasterxml.jackson.databind.ObjectMapper()

  /** table key "ns/table" → pinned metadata-location. */
  private val pins = scala.collection.concurrent.TrieMap.empty[String, Path]
  private val restSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Lifecycle state (r20 — the full protocol verbs). The catalog owns
    * each table's IDENTIFIER → storage mapping, so rename moves a
    * POINTER (an entry here), never data — the renamed table's files
    * stay where they are, exactly the semantics every production REST
    * catalog implements (a HadoopCatalog-style path rename would break
    * the absolute manifest-list paths inside existing snapshots).
    * `dropped` tombstones hide directory-derived tables the catalog no
    * longer serves (a DROP without purge, and the old spelling of a
    * renamed table). Like the pins, this state is server-local: the
    * loopback testbed posture documented on the class. */
  private val dirs = scala.collection.concurrent.TrieMap.empty[String, Path]
  private val dropped = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val nsProps = scala.collection.concurrent.TrieMap.empty[String, Map[String, String]]

  def boundPort: Int = server.getAddress.getPort
  def url: String = s"http://127.0.0.1:$boundPort"

  private def hconf = spark.sparkContext.hadoopConfiguration
  private def fsOf(p: Path) = p.getFileSystem(hconf)

  private def tableDir(ns: String, t: String): Path = new Path(s"$warehouse/$ns/$t")
  /** The identifier's storage directory — through the rename pointer
    * when one exists, by warehouse path otherwise. */
  private def resolveDir(ns: String, t: String): Path =
    dirs.getOrElse(s"$ns/$t", tableDir(ns, t))
  private def isTable(ns: String, t: String): Boolean =
    !dropped.contains(s"$ns/$t") && {
      val md = new Path(resolveDir(ns, t), "metadata")
      fsOf(md).exists(md)
    }
  private def nsDir(ns: String): Path = new Path(s"$warehouse/$ns")
  private def nsExists(ns: String): Boolean = fsOf(nsDir(ns)).exists(nsDir(ns))
  /** Tables the catalog serves in `ns`: directory children (minus
    * tombstones) plus renamed-in pointers whose storage still holds a
    * table. */
  private def tablesIn(ns: String): Seq[String] = {
    val d = nsDir(ns)
    val f = fsOf(d)
    val fromDir =
      if (!f.exists(d)) Nil
      else f.listStatus(d).toSeq.filter(_.isDirectory).map(_.getPath.getName)
        .filter(t => !dirs.contains(s"$ns/$t") && isTable(ns, t))
    val aliased = dirs.keys.toSeq.collect {
      case k if k.startsWith(s"$ns/") => k.drop(ns.length + 1)
    }.filter(t => isTable(ns, t))
    (fromDir ++ aliased).distinct.sorted
  }

  /** The pinned metadata-location, initializing from the directory
    * head on first load — from then on the PIN is the catalog truth. */
  private def pinOf(ns: String, t: String): Path =
    pins.getOrElseUpdate(s"$ns/$t", {
      val dir = resolveDir(ns, t)
      IcebergMetadata.load(fsOf(dir), dir.toString).path
    })

  private def readDoc(p: Path): ObjectNode = {
    val in = fsOf(p).open(p)
    try om.readTree(in).asInstanceOf[ObjectNode] finally in.close()
  }

  private def send(ex: HttpExchange, code: Int, body: String): Unit = {
    val b = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, if (b.isEmpty) -1 else b.length)
    if (b.nonEmpty) ex.getResponseBody.write(b)
    ex.close()
  }

  private def errorBody(code: Int, tpe: String, msg: String): String =
    s"""{"error":{"message":"${Json.escape(msg)}","type":"$tpe","code":$code}}"""

  /** The spec's requirement vocabulary this server validates. */
  private def checkRequirements(reqs: JsonNode, doc: ObjectNode): Option[String] = {
    if (reqs == null) return None
    (0 until reqs.size).map(reqs.get).foreach { r =>
      r.get("type").asText match {
        case "assert-ref-snapshot-id" =>
          val ref = r.get("ref").asText
          val want: Option[Long] =
            if (r.hasNonNull("snapshot-id")) Some(r.get("snapshot-id").asLong) else None
          val have: Option[Long] = {
            val refs = doc.get("refs")
            if (refs != null && refs.hasNonNull(ref)) Some(refs.get(ref).get("snapshot-id").asLong)
            else if (ref == "main") IcebergMetadata.currentOf(doc)
            else None
          }
          if (want != have)
            return Some(s"Requirement failed: branch $ref ${have.fold("does not exist")(h =>
              s"has changed: expected id ${want.getOrElse("none")}, found $h")}")
        case "assert-table-uuid" =>
          val want = r.get("uuid").asText
          val have = if (doc.hasNonNull("table-uuid")) doc.get("table-uuid").asText else ""
          if (want != have)
            return Some(s"Requirement failed: table UUID does not match: expected $want, found $have")
        case "assert-create" =>
          return Some("Requirement failed: table already exists")
        case other =>
          throw new IllegalArgumentException(
            s"unsupported commit requirement '$other' — this server validates " +
              "assert-ref-snapshot-id, assert-table-uuid and assert-create")
      }
    }
    None
  }

  /** Apply the spec's update actions (supported subset) to `doc`. */
  private def applyUpdates(updates: JsonNode, doc: ObjectNode): Unit = {
    if (updates == null) return
    (0 until updates.size).map(updates.get).foreach { u =>
      u.get("action").asText match {
        case "add-snapshot" =>
          val s = u.get("snapshot")
          doc.withArray[ArrayNode]("snapshots").add(s.deepCopy[JsonNode]())
          if (s.hasNonNull("sequence-number")) {
            val seq = s.get("sequence-number").asLong
            val prev = if (doc.hasNonNull("last-sequence-number"))
              doc.get("last-sequence-number").asLong else 0L
            doc.put("last-sequence-number", math.max(prev, seq))
          }
          if (s.hasNonNull("timestamp-ms"))
            doc.put("last-updated-ms", s.get("timestamp-ms").asLong)
        case "set-snapshot-ref" =>
          val name = u.get("ref-name").asText
          val snapId = u.get("snapshot-id").asLong
          val refs =
            if (doc.hasNonNull("refs")) doc.get("refs").asInstanceOf[ObjectNode]
            else doc.putObject("refs")
          val node = refs.putObject(name)
          node.put("snapshot-id", snapId)
          node.put("type", if (u.hasNonNull("type")) u.get("type").asText else "branch")
          if (name == "main") {
            doc.put("current-snapshot-id", snapId)
            val slog = doc.withArray[ArrayNode]("snapshot-log")
            val e = slog.addObject()
            val ts = {
              val snaps = doc.get("snapshots")
              (0 until snaps.size).map(snaps.get)
                .find(_.get("snapshot-id").asLong == snapId)
                .filter(_.hasNonNull("timestamp-ms")).map(_.get("timestamp-ms").asLong)
                .getOrElse(System.currentTimeMillis())
            }
            e.put("timestamp-ms", ts); e.put("snapshot-id", snapId)
          }
        case "set-properties" =>
          val props =
            if (doc.hasNonNull("properties")) doc.get("properties").asInstanceOf[ObjectNode]
            else doc.putObject("properties")
          val upd = u.get("updates")
          upd.fieldNames().forEachRemaining(k => props.put(k, upd.get(k).asText))
        case "remove-properties" =>
          if (doc.hasNonNull("properties")) {
            val props = doc.get("properties").asInstanceOf[ObjectNode]
            val rem = u.get("removals")
            (0 until rem.size).foreach(i => props.remove(rem.get(i).asText))
          }
        case other =>
          throw new IllegalArgumentException(
            s"unsupported metadata update action '$other' — this server applies " +
              "add-snapshot, set-snapshot-ref, set-properties and remove-properties")
      }
    }
  }

  private val TablesPath = "/v1/namespaces/([^/]+)/tables(/([^/]+))?".r
  private val NsPath = "/v1/namespaces/([^/]+)".r
  private val NsPropsPath = "/v1/namespaces/([^/]+)/properties".r

  server.createContext("/v1/", (ex: HttpExchange) => {
    try {
      val path = ex.getRequestURI.getPath
      val params: Map[String, String] = Option(ex.getRequestURI.getQuery).getOrElse("")
        .split('&').filter(_.contains("=")).map { kv =>
          val i = kv.indexOf('=')
          kv.take(i) -> java.net.URLDecoder.decode(kv.drop(i + 1), "UTF-8")
        }.toMap
      (ex.getRequestMethod, path) match {
        case ("GET", "/v1/config") =>
          send(ex, 200, s"""{"defaults":{},"overrides":{"warehouse":"${Json.escape(warehouse)}"}}""")
        case ("POST", "/v1/namespaces") => this.synchronized {
          // CreateNamespaceRequest: {"namespace":["ns"],"properties":{}}
          val body = om.readTree(ex.getRequestBody)
          val ns = body.get("namespace").get(0).asText
          if (nsExists(ns))
            send(ex, 409, errorBody(409, "AlreadyExistsException", s"namespace $ns already exists"))
          else {
            fsOf(nsDir(ns)).mkdirs(nsDir(ns))
            val props = scala.collection.mutable.LinkedHashMap.empty[String, String]
            if (body.hasNonNull("properties")) {
              val p = body.get("properties")
              p.fieldNames().forEachRemaining(k => props += k -> p.get(k).asText)
            }
            nsProps.put(ns, props.toMap)
            send(ex, 200, s"""{"namespace":["${Json.escape(ns)}"],"properties":{""" +
              props.map { case (k, v) => s""""${Json.escape(k)}":"${Json.escape(v)}"""" }
                .mkString(",") + "}}")
          }
        }
        case ("POST", "/v1/tables/rename") => this.synchronized {
          // RenameTableRequest: pointer move, storage untouched. The
          // source spelling is tombstoned (its warehouse path still
          // holds the renamed table's files, so re-creating the old
          // name collides — the honest answer for a path-addressed
          // warehouse, surfaced as 409 via the create-exclusive CAS).
          val body = om.readTree(ex.getRequestBody)
          val (sns, st) = (body.get("source").get("namespace").get(0).asText,
            body.get("source").get("name").asText)
          val (dns, dt) = (body.get("destination").get("namespace").get(0).asText,
            body.get("destination").get("name").asText)
          if (!isTable(sns, st))
            send(ex, 404, errorBody(404, "NoSuchTableException", s"table $sns.$st not found"))
          else if (!nsExists(dns))
            send(ex, 404, errorBody(404, "NoSuchNamespaceException", s"namespace $dns not found"))
          else if (isTable(dns, dt))
            send(ex, 409, errorBody(409, "AlreadyExistsException", s"table $dns.$dt already exists"))
          else {
            val storage = resolveDir(sns, st)
            val pin = pinOf(sns, st) // materialize before the move
            val srcWasAlias = dirs.contains(s"$sns/$st")
            dirs.put(s"$dns/$dt", storage)
            pins.put(s"$dns/$dt", pin)
            dropped.remove(s"$dns/$dt")
            dirs.remove(s"$sns/$st")
            pins.remove(s"$sns/$st")
            // only a DIRECTORY-derived source needs a tombstone (its
            // path still resolves); an alias disappears with its entry
            if (!srcWasAlias) dropped.add(s"$sns/$st")
            send(ex, 204, "")
          }
        }
        case ("GET", "/v1/namespaces") =>
          val r = new Path(warehouse)
          val f = fsOf(r)
          val nss =
            if (!f.exists(r)) Nil
            else f.listStatus(r).toSeq.filter(s => s.isDirectory &&
              !s.getPath.getName.startsWith(".") &&
              !f.exists(new Path(s.getPath, "metadata"))).map(_.getPath.getName).sorted
          send(ex, 200, nss.map(n => s"""["${Json.escape(n)}"]""")
            .mkString("""{"namespaces":[""", ",", "]}"))
        case ("POST", NsPropsPath(ns)) => this.synchronized {
          // UpdateNamespacePropertiesRequest: {"removals":[],"updates":{}}
          if (!nsExists(ns))
            send(ex, 404, errorBody(404, "NoSuchNamespaceException", s"namespace $ns not found"))
          else {
            val body = om.readTree(ex.getRequestBody)
            val cur = scala.collection.mutable.LinkedHashMap.empty[String, String]
            cur ++= nsProps.getOrElse(ns, Map.empty)
            val updated = scala.collection.mutable.ArrayBuffer.empty[String]
            val removed = scala.collection.mutable.ArrayBuffer.empty[String]
            val missing = scala.collection.mutable.ArrayBuffer.empty[String]
            if (body.hasNonNull("removals"))
              (0 until body.get("removals").size).map(body.get("removals").get(_).asText)
                .foreach { k =>
                  if (cur.remove(k).isDefined) removed += k else missing += k
                }
            if (body.hasNonNull("updates")) {
              val u = body.get("updates")
              u.fieldNames().forEachRemaining { k => cur += k -> u.get(k).asText; updated += k }
            }
            nsProps.put(ns, cur.toMap)
            def arr(xs: Seq[String]) =
              xs.map(x => s""""${Json.escape(x)}"""").mkString("[", ",", "]")
            send(ex, 200, s"""{"updated":${arr(updated.toSeq)},"removed":${arr(removed.toSeq)},""" +
              s""""missing":${arr(missing.toSeq)}}""")
          }
        }
        case ("GET", NsPath(ns)) =>
          // LoadNamespaceMetadata
          if (!nsExists(ns))
            send(ex, 404, errorBody(404, "NoSuchNamespaceException", s"namespace $ns not found"))
          else {
            val props = nsProps.getOrElse(ns, Map.empty)
            send(ex, 200, s"""{"namespace":["${Json.escape(ns)}"],"properties":{""" +
              props.map { case (k, v) => s""""${Json.escape(k)}":"${Json.escape(v)}"""" }
                .mkString(",") + "}}")
          }
        case ("HEAD", NsPath(ns)) =>
          send(ex, if (nsExists(ns)) 204 else 404, "")
        case ("DELETE", NsPath(ns)) => this.synchronized {
          // DropNamespace: must be empty of SERVED tables (tombstoned
          // residue does not block — the catalog no longer serves it)
          if (!nsExists(ns))
            send(ex, 404, errorBody(404, "NoSuchNamespaceException", s"namespace $ns not found"))
          else if (tablesIn(ns).nonEmpty)
            send(ex, 409, errorBody(409, "NamespaceNotEmptyException",
              s"namespace $ns is not empty: ${tablesIn(ns).mkString(", ")}"))
          else {
            fsOf(nsDir(ns)).delete(nsDir(ns), true)
            nsProps.remove(ns)
            send(ex, 204, "")
          }
        }
        case (method, TablesPath(ns, _, tOrNull)) =>
          (method, Option(tOrNull)) match {
            case ("POST", None) => this.synchronized {
              // CreateTableRequest — the protocol's table bootstrap: a
              // migrating engine's FIRST act on a REST catalog. The
              // request's Iceberg schema/spec/properties JSON passes
              // VERBATIM into a fresh v2 metadata document (no lossy
              // conversion); the version file is create-exclusive, so
              // a racing creator gets the spec's 409
              // AlreadyExistsException, never a clobbered table.
              val body = om.readTree(ex.getRequestBody)
              val t = body.get("name").asText
              val nsDir = new Path(s"$warehouse/$ns")
              if (!fsOf(nsDir).exists(nsDir))
                send(ex, 404, errorBody(404, "NoSuchNamespaceException", s"namespace $ns not found"))
              else if (isTable(ns, t))
                send(ex, 409, errorBody(409, "AlreadyExistsException", s"table $ns.$t already exists"))
              else {
                val dir = tableDir(ns, t)
                val f = fsOf(dir)
                val schema = body.get("schema").deepCopy[ObjectNode]()
                if (!schema.has("schema-id")) schema.put("schema-id", 0)
                def maxId(n: JsonNode): Int = {
                  var m = 0
                  if (n.isObject && n.hasNonNull("id") && n.get("id").isInt)
                    m = math.max(m, n.get("id").asInt)
                  n.elements().forEachRemaining(c => m = math.max(m, maxId(c)))
                  n.fieldNames().forEachRemaining { k =>
                    if (k != "id") m = math.max(m, maxId(n.get(k)))
                  }
                  m
                }
                val doc = om.createObjectNode()
                doc.put("format-version", 2)
                doc.put("table-uuid", java.util.UUID.randomUUID().toString)
                doc.put("location", f.makeQualified(dir).toString)
                doc.put("last-sequence-number", 0L)
                doc.put("last-updated-ms", System.currentTimeMillis())
                doc.put("last-column-id", maxId(schema))
                doc.put("current-schema-id", schema.get("schema-id").asInt)
                doc.putArray("schemas").add(schema)
                doc.put("default-spec-id", 0)
                val spec0 = doc.putArray("partition-specs").addObject()
                spec0.put("spec-id", 0)
                val specFields = spec0.putArray("fields")
                if (body.hasNonNull("partition-spec") &&
                    body.get("partition-spec").hasNonNull("fields"))
                  body.get("partition-spec").get("fields").elements()
                    .forEachRemaining(fld => { specFields.add(fld.deepCopy[JsonNode]()); () })
                doc.put("last-partition-id", 999 + specFields.size)
                doc.put("default-sort-order-id", 0)
                val so = doc.putArray("sort-orders").addObject()
                so.put("order-id", 0); so.putArray("fields")
                val props = doc.putObject("properties")
                if (body.hasNonNull("properties")) {
                  val p = body.get("properties")
                  p.fieldNames().forEachRemaining(k => props.put(k, p.get(k).asText))
                }
                doc.put("current-snapshot-id", -1L)
                doc.putArray("snapshots"); doc.putArray("snapshot-log"); doc.putArray("metadata-log")
                doc.putObject("refs")
                val metaDir = new Path(dir, "metadata")
                f.mkdirs(metaDir)
                val mdPath = new Path(metaDir, "v1.metadata.json")
                val os = f.create(mdPath, false) // create-exclusive: racing creators 409 below
                try os.write(om.writeValueAsString(doc).getBytes("UTF-8")) finally os.close()
                val hs = f.create(new Path(metaDir, "version-hint.text"), true)
                try hs.write("1".getBytes("UTF-8")) finally hs.close()
                pins.put(s"$ns/$t", mdPath)
                dropped.remove(s"$ns/$t") // a fresh create revives the name
                send(ex, 200,
                  s"""{"metadata-location":"${Json.escape(f.makeQualified(mdPath).toString)}",""" +
                    s""""metadata":${om.writeValueAsString(doc)},"config":{}}""")
              }
            }
            case ("GET", None) =>
              // ListTables, with the spec's opaque-token pagination:
              // the token is the last name of the prior page (names are
              // served sorted, so "strictly greater" resumes exactly).
              if (!nsExists(ns))
                send(ex, 404, errorBody(404, "NoSuchNamespaceException", s"namespace $ns not found"))
              else {
                val all = tablesIn(ns)
                val after = params.get("pageToken").filter(_.nonEmpty)
                val remaining = after.fold(all)(tok => all.dropWhile(_ <= tok))
                val (page, more) = params.get("pageSize").flatMap(_.toIntOption) match {
                  case Some(n) if n >= 0 => (remaining.take(n), remaining.size > n)
                  case _ => (remaining, false)
                }
                val idents = page.map(t =>
                  s"""{"namespace":["${Json.escape(ns)}"],"name":"${Json.escape(t)}"}""")
                  .mkString("""[""", ",", "]")
                val tokenField =
                  if (more) s""","next-page-token":"${Json.escape(page.last)}"""" else ""
                send(ex, 200, s"""{"identifiers":$idents$tokenField}""")
              }
            case ("DELETE", Some(t)) => this.synchronized {
              // DropTable — catalog-pointer semantics: the pin and the
              // identifier go; storage goes ONLY with purgeRequested
              // (the spec's split between drop and purge).
              if (!isTable(ns, t))
                send(ex, 404, errorBody(404, "NoSuchTableException", s"table $ns.$t not found"))
              else {
                val storage = resolveDir(ns, t)
                val wasAlias = dirs.contains(s"$ns/$t")
                pins.remove(s"$ns/$t")
                dirs.remove(s"$ns/$t")
                if (!wasAlias) dropped.add(s"$ns/$t")
                if (params.get("purgeRequested").contains("true"))
                  fsOf(storage).delete(storage, true)
                send(ex, 204, "")
              }
            }
            case ("HEAD", Some(t)) =>
              send(ex, if (isTable(ns, t)) 204 else 404, "")
            case ("GET", Some(t)) =>
              if (!isTable(ns, t))
                send(ex, 404, errorBody(404, "NoSuchTableException", s"table $ns.$t not found"))
              else {
                val pin = pinOf(ns, t)
                val doc = readDoc(pin)
                send(ex, 200,
                  s"""{"metadata-location":"${Json.escape(fsOf(pin).makeQualified(pin).toString)}",""" +
                    s""""metadata":${om.writeValueAsString(doc)},"config":{}}""")
              }
            case ("POST", Some(t)) => this.synchronized {
              if (!isTable(ns, t))
                send(ex, 404, errorBody(404, "NoSuchTableException", s"table $ns.$t not found"))
              else {
                val body = om.readTree(ex.getRequestBody)
                val pin = pinOf(ns, t)
                val doc = readDoc(pin)
                checkRequirements(body.get("requirements"), doc) match {
                  case Some(msg) =>
                    send(ex, 409, errorBody(409, "CommitFailedException", msg))
                  case None =>
                    applyUpdates(body.get("updates"), doc)
                    val metaDir = new Path(resolveDir(ns, t), "metadata")
                    val newPath = new Path(metaDir, s"rest-${restSeq.incrementAndGet()}-" +
                      s"${java.util.UUID.randomUUID().toString.take(8)}.metadata.json")
                    val f = fsOf(newPath)
                    // create-exclusive: the commit's own CAS on storage
                    val os = f.create(newPath, false)
                    try os.write(om.writeValueAsString(doc).getBytes("UTF-8")) finally os.close()
                    pins.put(s"$ns/$t", newPath)
                    send(ex, 200,
                      s"""{"metadata-location":"${Json.escape(f.makeQualified(newPath).toString)}",""" +
                        s""""metadata":${om.writeValueAsString(doc)}}""")
                }
              }
            }
            case _ => send(ex, 404, errorBody(404, "NoSuchRouteException", s"no route $method $path"))
          }
        case _ => send(ex, 404, errorBody(404, "NoSuchRouteException", s"no route $path"))
      }
    } catch {
      // the create-exclusive CAS losing to an out-of-band racer is the
      // spec's 409, not a malformed request; and server-side IO
      // failures (e.g. writing the new metadata file mid-commit) are
      // 5xx — a 400 would tell standard REST clients "don't retry"
      case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
        send(ex, 409, errorBody(409, "AlreadyExistsException", String.valueOf(e.getMessage)))
      case e: java.nio.file.FileAlreadyExistsException =>
        send(ex, 409, errorBody(409, "AlreadyExistsException", String.valueOf(e.getMessage)))
      case e: com.fasterxml.jackson.core.JsonProcessingException =>
        // malformed request bodies stay 400 (Jackson's parse errors
        // extend IOException — they must not read as server faults)
        send(ex, 400, errorBody(400, "BadRequestException", String.valueOf(e.getMessage)))
      case e: java.io.IOException =>
        send(ex, 500, errorBody(500, "ServiceFailureException", String.valueOf(e.getMessage)))
      case e: Exception =>
        send(ex, 400, errorBody(400, "BadRequestException", String.valueOf(e.getMessage)))
    }
  })

  def start(): IcebergRestHttpServer = { server.start(); started = true; this }
  def stop(): Unit = if (started) server.stop(0)
}

/** Client half of the REST mount (JDK HttpClient, zero dependencies).
  * Reads resolve the CATALOG-pinned metadata; [[publishHead]] turns a
  * table directory's staged head (graft's jar-free writers commit
  * directly to the table line) into ONE spec-shaped commit request —
  * the new snapshots as `add-snapshot` updates plus a
  * `set-snapshot-ref` on main, guarded by `assert-ref-snapshot-id`
  * against the pinned head, so racing publishers get the spec's 409
  * instead of a lost update. */
final class RemoteIcebergRest(baseUrl: String) {
  private val http = java.net.http.HttpClient.newHttpClient()
  private val om = new com.fasterxml.jackson.databind.ObjectMapper()

  private def get(path: String): (Int, JsonNode) = {
    val r = http.send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(baseUrl + path)).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (r.statusCode, if (r.body.isEmpty) om.createObjectNode() else om.readTree(r.body))
  }

  def config(): JsonNode = {
    val (code, j) = get("/v1/config")
    require(code == 200, s"config -> $code")
    j
  }

  def namespaces(): Seq[String] = {
    val (code, j) = get("/v1/namespaces")
    require(code == 200, s"namespaces -> $code")
    val a = j.get("namespaces")
    (0 until a.size).map(a.get(_).get(0).asText)
  }

  def tables(ns: String): Seq[String] = tables(ns, pageSize = None)

  /** ListTables, following the spec's `next-page-token` loop when a
    * page size is given (how a real client walks a 10k-table
    * namespace without one giant response). */
  def tables(ns: String, pageSize: Option[Int]): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var token: Option[String] = None
    var done = false
    while (!done) {
      val qs = (pageSize.map(n => s"pageSize=$n").toSeq ++
        token.map(t => s"pageToken=${enc(t)}").toSeq).mkString("&")
      val (code, j) = get(s"/v1/namespaces/${enc(ns)}/tables" + (if (qs.isEmpty) "" else s"?$qs"))
      require(code == 200, s"tables($ns) -> $code")
      val a = j.get("identifiers")
      out ++= (0 until a.size).map(a.get(_).get("name").asText)
      token = if (j.hasNonNull("next-page-token")) Some(j.get("next-page-token").asText) else None
      done = token.isEmpty
    }
    out.toSeq
  }

  private def sendJson(method: String, path: String, body: Option[String]): (Int, JsonNode) = {
    val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(baseUrl + path))
    val req = (method match {
      case "DELETE" => b.DELETE()
      case "POST" => b.header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body.getOrElse("{}")))
      case m => b.method(m, java.net.http.HttpRequest.BodyPublishers.noBody())
    }).build()
    val r = http.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    (r.statusCode, if (r.body == null || r.body.isEmpty) om.createObjectNode() else om.readTree(r.body))
  }

  private def errMsg(j: JsonNode): String =
    if (j.hasNonNull("error")) j.get("error").get("message").asText else j.toString

  /** DropTable: true when the catalog dropped it, false on 404.
    * `purge=true` additionally deletes the table's storage. */
  def dropTable(ns: String, table: String, purge: Boolean = false): Boolean = {
    val q = if (purge) "?purgeRequested=true" else ""
    val (code, j) = sendJson("DELETE", s"/v1/namespaces/${enc(ns)}/tables/${enc(table)}$q", None)
    code match {
      case 204 => true
      case 404 => false
      case c => throw new IllegalStateException(s"dropTable($ns.$table) -> $c: ${errMsg(j)}")
    }
  }

  /** RenameTable: identifier pointer move (storage untouched). Throws
    * NoSuchElementException on a missing source/namespace (404) and
    * IllegalStateException on an existing destination (409). */
  def renameTable(srcNs: String, srcTable: String, dstNs: String, dstTable: String): Unit = {
    val body =
      s"""{"source":{"namespace":["${Json.escape(srcNs)}"],"name":"${Json.escape(srcTable)}"},""" +
        s""""destination":{"namespace":["${Json.escape(dstNs)}"],"name":"${Json.escape(dstTable)}"}}"""
    val (code, j) = sendJson("POST", "/v1/tables/rename", Some(body))
    code match {
      case 204 | 200 => ()
      case 404 => throw new NoSuchElementException(
        s"rename $srcNs.$srcTable -> $dstNs.$dstTable: ${errMsg(j)}")
      case 409 => throw new IllegalStateException(
        s"rename $srcNs.$srcTable -> $dstNs.$dstTable conflict (409): ${errMsg(j)}")
      case c => throw new IllegalStateException(s"rename -> $c: ${errMsg(j)}")
    }
  }

  /** CreateNamespace; throws IllegalStateException on 409. */
  def createNamespace(ns: String, properties: Map[String, String] = Map.empty): Unit = {
    val props = properties.map { case (k, v) =>
      s""""${Json.escape(k)}":"${Json.escape(v)}"""" }.mkString("{", ",", "}")
    val body = s"""{"namespace":["${Json.escape(ns)}"],"properties":$props}"""
    val (code, j) = sendJson("POST", "/v1/namespaces", Some(body))
    if (code == 409)
      throw new IllegalStateException(s"createNamespace($ns) conflict (409): ${errMsg(j)}")
    require(code == 200, s"createNamespace($ns) -> $code: ${errMsg(j)}")
  }

  /** DropNamespace: true on drop, false on 404; 409 (not empty)
    * throws — the caller must drop the tables first. */
  def dropNamespace(ns: String): Boolean = {
    val (code, j) = sendJson("DELETE", s"/v1/namespaces/${enc(ns)}", None)
    code match {
      case 204 => true
      case 404 => false
      case 409 => throw new IllegalStateException(s"dropNamespace($ns) not empty (409): ${errMsg(j)}")
      case c => throw new IllegalStateException(s"dropNamespace($ns) -> $c: ${errMsg(j)}")
    }
  }

  def namespaceExists(ns: String): Boolean = {
    val (code, _) = sendJson("HEAD", s"/v1/namespaces/${enc(ns)}", None)
    code == 204
  }

  /** LoadNamespaceMetadata's properties map, or None on 404. */
  def namespaceProperties(ns: String): Option[Map[String, String]] = {
    val (code, j) = get(s"/v1/namespaces/${enc(ns)}")
    if (code == 404) None
    else {
      require(code == 200, s"namespaceProperties($ns) -> $code")
      val p = j.get("properties")
      val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
      if (p != null) p.fieldNames().forEachRemaining(k => out += k -> p.get(k).asText)
      Some(out.toMap)
    }
  }

  /** UpdateNamespaceProperties: returns (updated, removed, missing). */
  def updateNamespaceProperties(ns: String, updates: Map[String, String],
      removals: Seq[String] = Nil): (Seq[String], Seq[String], Seq[String]) = {
    val u = updates.map { case (k, v) =>
      s""""${Json.escape(k)}":"${Json.escape(v)}"""" }.mkString("{", ",", "}")
    val r = removals.map(x => s""""${Json.escape(x)}"""").mkString("[", ",", "]")
    val (code, j) = sendJson("POST", s"/v1/namespaces/${enc(ns)}/properties",
      Some(s"""{"removals":$r,"updates":$u}"""))
    require(code == 200, s"updateNamespaceProperties($ns) -> $code: ${errMsg(j)}")
    def arr(f: String): Seq[String] = {
      val a = j.get(f)
      if (a == null) Nil else (0 until a.size).map(a.get(_).asText)
    }
    (arr("updated"), arr("removed"), arr("missing"))
  }

  /** LoadTableResult: (metadata-location, metadata document), or None
    * when the catalog does not serve the table. */
  def loadTable(ns: String, table: String): Option[(String, JsonNode)] = {
    val (code, j) = get(s"/v1/namespaces/${enc(ns)}/tables/${enc(table)}")
    if (code == 404) None
    else {
      require(code == 200, s"loadTable($ns.$table) -> $code")
      Some((j.get("metadata-location").asText, j.get("metadata")))
    }
  }

  /** The snapshot id the catalog currently pins for the table. */
  def pinnedSnapshot(ns: String, table: String): Option[Long] =
    loadTable(ns, table).flatMap { case (_, md) => IcebergMetadata.currentOf(md) }

  /** CreateTableRequest — bootstrap a fresh table through the catalog
    * (the protocol's table-creation face): `schemaJson` is the Iceberg
    * schema document (passes verbatim), `partitionSpecJson` optional
    * `{"fields":[...]}`. Returns the new metadata-location; throws on
    * 409 AlreadyExistsException. */
  def createTable(ns: String, name: String, schemaJson: String,
      partitionSpecJson: Option[String] = None,
      propertiesJson: Option[String] = None): String = {
    val body = s"""{"name":"${Json.escape(name)}","schema":$schemaJson""" +
      partitionSpecJson.map(p => s""","partition-spec":$p""").getOrElse("") +
      propertiesJson.map(p => s""","properties":$p""").getOrElse("") + "}"
    val r = http.send(
      java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"$baseUrl/v1/namespaces/${enc(ns)}/tables"))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    val j = om.readTree(r.body)
    if (r.statusCode == 409)
      throw new IllegalStateException(
        s"createTable($ns.$name) conflict (409): ${j.get("error").get("message").asText}")
    require(r.statusCode == 200, s"createTable($ns.$name) -> ${r.statusCode}: ${r.body}")
    j.get("metadata-location").asText
  }

  /** One CommitTableRequest; returns (status, body). */
  def commit(ns: String, table: String, requirementsJson: String,
      updatesJson: String): (Int, JsonNode) = {
    val body = s"""{"requirements":[$requirementsJson],"updates":[$updatesJson]}"""
    val r = http.send(
      java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"$baseUrl/v1/namespaces/${enc(ns)}/tables/${enc(table)}"))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (r.statusCode, if (r.body.isEmpty) om.createObjectNode() else om.readTree(r.body))
  }

  /** Publish the table DIRECTORY's staged head through the catalog:
    * every snapshot on the directory's main lineage that the pinned
    * metadata lacks becomes an `add-snapshot` update (oldest first;
    * side-branch snapshots stay unpublished), capped by a
    * `set-snapshot-ref` on main, guarded by `assert-ref-snapshot-id`
    * against the PINNED main head. Returns the new metadata-location;
    * throws with the server's CommitFailedException message on 409
    * (a concurrent publisher moved the pin — reload and retry). */
  def publishHead(spark: SparkSession, ns: String, table: String, tableDir: String): String = {
    val (_, pinnedMd) = loadTable(ns, table).getOrElse(
      throw new IllegalArgumentException(s"catalog does not serve $ns.$table"))
    val pinnedIds = IcebergMetadata.snapshotsOf(pinnedMd).map(_.id).toSet
    val expected = IcebergMetadata.currentOf(pinnedMd)
    // the directory's own head document (the staged truth)
    val dir = IcebergImport.meta(spark, tableDir)
    val dirHead = dir.head
    val newSnaps = dir.ancestors(dirHead).takeWhile(s => !pinnedIds.contains(s.id)).toSeq.reverse
    val req = expected match {
      case Some(id) => s"""{"type":"assert-ref-snapshot-id","ref":"main","snapshot-id":$id}"""
      case None => s"""{"type":"assert-ref-snapshot-id","ref":"main"}"""
    }
    val updates = (newSnaps.map(s => s"""{"action":"add-snapshot","snapshot":${om.writeValueAsString(s.json)}}""") :+
      s"""{"action":"set-snapshot-ref","ref-name":"main","type":"branch","snapshot-id":$dirHead}""")
      .mkString(",")
    val (code, body) = commit(ns, table, req, updates)
    if (code == 409)
      throw new IllegalStateException(
        s"REST commit conflict (409) publishing $ns.$table: " +
          body.get("error").get("message").asText)
    require(code == 200, s"commit($ns.$table) -> $code: $body")
    body.get("metadata-location").asText
  }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8").replace("+", "%20")
}
