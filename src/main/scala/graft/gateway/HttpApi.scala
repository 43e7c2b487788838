package graft.gateway

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.UUID

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{Row, SparkSession}

import graft.sources.TableInfo
import JValue._

/** HTTP adapter (the reference's FastAPI surface, its
  * `backend/main.py:646-770`) on the JDK's built-in HttpServer — the build
  * is offline, so no web framework resolves. Routes and JSON shapes mirror
  * the reference:
  *
  *   GET  /                         health stub
  *   GET  /ui                       the browser client
  *   GET  /health                   engine version + timestamp
  *   POST /api/connect/test         {connection} -> {status,message,tableInfo}
  *   POST /api/query                {sql,connection,rowLimit} -> QueryResponse
  *   POST /api/query/export         same body -> text/csv attachment (A14)
  *   POST /api/format               {sql} -> {formatted} (A15)
  *   POST /api/maintenance/compact  {connection,tablePath,targetBytes} -> counts
  *   GET  /api/demo/connection      canned demo config
  *   GET  /api/demo/queries         sample queries over the demo table
  *
  * One context serves them all from [[routes]], keyed by exact method and
  * path: any other path is 404, `OPTIONS` on a route's path is 204, any
  * other method is 405. Errors: 400 with {"detail": ...} for validation,
  * guard and execution errors and for a request that nests too deeply to
  * process, 413 for a body over [[HttpApi.MaxBodyBytes]], 500
  * {"detail":"Internal server error"} for anything else (logged with its
  * stack trace). Every response carries CORS `*` and is answered, whatever
  * the failure. Both query routes answer with an `X-Request-Id` header,
  * the id their log line carries.
  */
final class HttpApi(spark: SparkSession, port: Int, demoTablePath: Option[String]) {
  import HttpApi.Reply

  private val server = HttpApi.createServer(new InetSocketAddress(port))
  // Non-daemon request threads: kept so stop() can shut them down.
  private[gateway] val executor =
    java.util.concurrent.Executors.newFixedThreadPool(Engine.RequestThreads)
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[HttpApi])

  def start(): Unit = {
    server.createContext("/", serve(_))
    server.setExecutor(executor)
    server.start()
  }

  /** Closes the listener, then lets in-flight requests finish (up to 30 s)
    * so the request threads end and the JVM can exit.
    */
  def stop(): Unit = {
    server.stop(0)
    executor.shutdown()
    executor.awaitTermination(30, java.util.concurrent.TimeUnit.SECONDS)
  }

  def address: String = s"http://localhost:${server.getAddress.getPort}"

  // --- routes -------------------------------------------------------------

  /** A route gets the request's JSON object body (None for a GET or a
    * blank body) and a [[Heard]] the query routes fill in.
    */
  private type Route = (Option[JObj], Heard) => Reply

  private val routes: Map[(String, String), Route] = Map(
    ("GET", "/") -> { (_, _) =>
      json(200, JObj(
        "message" -> JStr("Graft API"),
        "version" -> JStr("0.1.0"),
        "status" -> JStr("running")))
    },
    // The browser client (the reference ships it as a separate static
    // frontend; here it is one self-contained HTML route).
    ("GET", "/ui") -> { (_, _) =>
      Reply(200, WebUi.html.getBytes(StandardCharsets.UTF_8), "text/html; charset=utf-8")
    },
    ("GET", "/health") -> { (_, _) =>
      json(200, JObj(
        "status" -> JStr("healthy"),
        "spark_version" -> JStr(spark.version),
        "timestamp" -> JValue.num(System.currentTimeMillis() / 1000.0)))
    },
    ("POST", "/api/connect/test") -> { (body, _) =>
      Engine.runConnectionTest(spark, connectionFrom(body), demoTablePath) match {
        case Some(info) =>
          json(200, JObj(
            "status" -> JStr("success"),
            "message" -> JStr("Connection successful"),
            "tableInfo" -> tableInfoJson(info)))
        case None => json(400, detail("Connection test failed"))
      }
    },
    ("POST", "/api/query") -> { (body, heard) =>
      json(200, queryResponseJson(runQuery(body, heard)))
    },
    // CSV export (A14): same request as /api/query, result as a text/csv
    // attachment — the server-side analog of the reference UI's
    // exportResults download (frontend/js/app.js:451-479).
    ("POST", "/api/query/export") -> { (body, heard) =>
      Reply(200, ResultExport.toCsv(runQuery(body, heard)).getBytes(StandardCharsets.UTF_8),
        "text/csv",
        Some(s"attachment; filename=graft-results-${System.currentTimeMillis()}.csv"))
    },
    // Table maintenance (beyond-reference): the delete guard's own
    // remediation run in-house — delete-applying rewrite + small-file
    // compaction. Mutating, so gated off by default
    // (-Dgraft.gateway.maintenance=true); see Engine.runCompaction.
    ("POST", "/api/maintenance/compact") -> { (body, _) =>
      val conn = connectionFrom(body)
      val targetBytes = body match {
        case Some(b) if b.get("targetBytes").isDefined =>
          b.long("targetBytes").filter(_ > 0).getOrElse(throw Engine.EngineError(400,
            "targetBytes must be a positive whole number of bytes"))
        case _ => 128L << 20
      }
      val r = Engine.runCompaction(spark, conn, targetBytes,
        body.flatMap(_.str("tablePath")))
      json(200, JObj(
        "status" -> JStr("success"),
        "deletesApplied" -> JBool(r.deletesApplied),
        "deleteRewrite" -> JObj(
          "rewritten" -> JValue.num(r.rewriteRewritten.toLong),
          "written" -> JValue.num(r.rewriteWritten.toLong)),
        "compaction" -> JObj(
          "rewritten" -> JValue.num(r.compactRewritten.toLong),
          "written" -> JValue.num(r.compactWritten.toLong))))
    },
    // SQL formatter (A15): the reference formats in the editor
    // (frontend/js/app.js:352-369); the engine exposes the same transform
    // as an endpoint so any client gets identical output.
    ("POST", "/api/format") -> { (body, _) =>
      val obj = body.getOrElse(throw Engine.EngineError(400, "Request body required"))
      val sql = obj.str("sql").getOrElse(throw Engine.EngineError(400, "sql is required"))
      json(200, JObj("formatted" -> JStr(SqlFormatter.format(sql))))
    },
    ("GET", "/api/demo/connection") -> { (_, _) =>
      json(200, JObj(
        "storageType" -> JStr("minio"),
        "endpoint" -> JStr("http://localhost:9000"),
        "accessKey" -> JStr("graft"),
        "secretKey" -> JStr("graft123"),
        "region" -> JStr("us-east-1"),
        "tablePath" -> JStr(demoTablePath.getOrElse(""))))
    },
    ("GET", "/api/demo/queries") -> { (_, _) =>
      val t = demoTablePath.getOrElse("")
      def q(name: String, description: String, sql: String): JValue =
        JObj("name" -> JStr(name), "description" -> JStr(description), "sql" -> JStr(sql))
      json(200, JObj("queries" -> JArr(Vector(
        q("Sample Documents", "Preview first 10 documents",
          s"SELECT doc_id, lang, source, n_chars FROM iceberg_scan('$t') ORDER BY doc_id LIMIT 10"),
        q("Row Count", "Count total rows in dataset",
          s"SELECT COUNT(*) AS total_docs FROM iceberg_scan('$t')"),
        q("Documents by Language", "Count documents by language",
          s"SELECT lang, COUNT(*) AS doc_count FROM iceberg_scan('$t') GROUP BY lang ORDER BY doc_count DESC"),
        q("Long Documents", "Find documents over 300 chars",
          s"SELECT doc_id, n_chars FROM iceberg_scan('$t') WHERE n_chars > 300 ORDER BY n_chars DESC"),
        // Reference-shaped DuckDB dialect (its "Popular Genres" sample,
        // main.py:767) — served VERBATIM now that the gateway's dialect
        // pre-pass runs it, rather than a quiet Spark translation.
        q("Word Frequency", "Most common words",
          s"SELECT TRIM(word) AS word, COUNT(*) AS count FROM (SELECT UNNEST(string_split(text, ' ')) AS word FROM iceberg_scan('$t') WHERE text IS NOT NULL) GROUP BY word ORDER BY count DESC")))))
    })

  private val paths: Set[String] = routes.keySet.map(_._2)

  /** The query routes: each request to one gets an `X-Request-Id` header
    * and one log line.
    */
  private val queryPaths = Set("/api/query", "/api/query/export")

  // --- plumbing -----------------------------------------------------------

  private def json(status: Int, payload: JValue): Reply =
    Reply(status, payload.render.getBytes(StandardCharsets.UTF_8), "application/json")

  private def detail(message: String): JObj = JObj("detail" -> JStr(message))

  /** Serves one request: finds its route, reads a POST's body, runs the
    * route inside the one error boundary ([[failed]]), sends the reply and
    * always closes the exchange. A query route's request also gets an
    * `X-Request-Id` and one INFO line, for "why was this request slow":
    * that id, the status, the time, the execution mode the engine chose
    * and whether the plan ran on the request thread or as Spark jobs.
    * Never the SQL or the connection, which may carry credentials.
    */
  private def serve(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val method = ex.getRequestMethod
    val path = ex.getRequestURI.getPath
    val id = if (queryPaths(path)) Some(UUID.randomUUID().toString) else None
    id.foreach(ex.getResponseHeaders.set("X-Request-Id", _))
    val heard = new Heard
    val reply =
      try {
        if (!paths(path)) json(404, detail("Not Found"))
        else if (method == "OPTIONS") json(204, JObj())
        else routes.get((method, path)) match {
          case None => json(405, detail("Method Not Allowed"))
          case Some(r) => r(if (method == "POST") readBody(ex) else None, heard)
        }
      } catch {
        case e: Throwable => failed(s"$method $path${id.fold("")(i => s" id=$i")}", e)
      }
    try write(ex, reply) finally ex.close()
    id.foreach { id =>
      val mode = heard.mode
      if (log.isInfoEnabled) log.info(
        s"query id=$id status=${reply.status} ms=${(System.nanoTime() - t0) / 1000000} " +
          s"inputRows=${mode.flatMap(_.inputRows.toOption).getOrElse("-")} " +
          s"mode=${mode.fold("-")(_.name)} ran=${heard.ran.fold("-")(_.name)} " +
          s"unknownLeaf=${mode.flatMap(_.inputRows.left.toOption).getOrElse("-")}")
    }
  }

  /** The one error boundary: what a request that failed with `e` gets.
    * It also takes what `Try` lets pass: a statement nested deeply enough
    * to overflow the parser's or analyzer's stack is the request's fault.
    */
  private def failed(request: String, e: Throwable): Reply = e match {
    case e: Engine.EngineError => json(e.status, detail(e.detail))
    case e: ConnectionConfig.InvalidConfig => json(400, detail(e.message))
    case e: Json.JsonParseException => json(400, detail(s"Invalid JSON: ${e.msg}"))
    case e: StackOverflowError =>
      log.error(s"400 on $request: stack overflow", e)
      json(400, detail("Request nests too deeply to process"))
    case e =>
      log.error(s"500 on $request", e)
      json(500, detail("Internal server error"))
  }

  /** Sends `r` with the CORS headers; a 204 sends the headers only. */
  private def write(ex: HttpExchange, r: Reply): Unit = {
    val h = ex.getResponseHeaders
    h.set("Content-Type", r.contentType)
    r.disposition.foreach(h.set("Content-Disposition", _))
    h.set("Access-Control-Allow-Origin", "*")
    h.set("Access-Control-Allow-Methods", "*")
    h.set("Access-Control-Allow-Headers", "*")
    if (r.status == 204) ex.sendResponseHeaders(r.status, -1)
    else {
      ex.sendResponseHeaders(r.status, r.body.length)
      ex.getResponseBody.write(r.body)
    }
  }

  /** The `{sql, connection, rowLimit}` request both query routes take. */
  private def runQuery(body: Option[JObj], heard: Heard): Engine.QueryResult = {
    val obj = body.getOrElse(throw Engine.EngineError(400, "Request body required"))
    val sql = obj.str("sql").getOrElse(throw Engine.EngineError(400, "sql is required"))
    val rowLimit =
      if (obj.get("rowLimit").isEmpty) Engine.DefaultRowLimit
      else obj.int("rowLimit").getOrElse(throw Engine.EngineError(400,
        s"rowLimit must be a whole number <= ${Engine.MaxRowLimit}"))
    Engine.executeQuery(spark, sql, connectionFrom(body), rowLimit,
      m => heard.mode = Some(m), r => heard.ran = Some(r))
  }

  private def connectionFrom(body: Option[JObj]): ConnectionConfig = {
    val conn = body.flatMap(_.obj("connection"))
      .getOrElse(throw Engine.EngineError(400, "connection is required"))
    ConnectionConfig.fromJson(conn)
  }

  /** What the engine reported about one request: its execution mode and
    * where its plan ran.
    */
  private final class Heard {
    var mode: Option[Engine.ExecutionMode] = None
    var ran: Option[Engine.Ran] = None
  }

  /** The request's JSON object body (None when blank), read only up to
    * [[HttpApi.MaxBodyBytes]]: a larger body is refused with 413.
    */
  private def readBody(ex: HttpExchange): Option[JObj] = {
    val bytes = ex.getRequestBody.readNBytes(HttpApi.MaxBodyBytes + 1)
    if (bytes.length > HttpApi.MaxBodyBytes)
      throw Engine.EngineError(413, s"Request body exceeds ${HttpApi.MaxBodyBytes} bytes")
    val raw = new String(bytes, StandardCharsets.UTF_8)
    if (raw.trim.isEmpty) None
    else Json.parse(raw) match {
      case o: JObj => Some(o)
      case _ => throw Engine.EngineError(400, "Request body must be a JSON object")
    }
  }

  private def tableInfoJson(i: TableInfo): JObj = {
    // exclude_none semantics: absent optional fields are omitted.
    val fields = Vector.newBuilder[(String, JValue)]
    fields += "path" -> JStr(i.path)
    fields += "suggestedQuery" -> JStr(i.suggestedQuery)
    i.format.foreach(v => fields += "format" -> JStr(v))
    i.rows.foreach(v => fields += "rows" -> JValue.num(v))
    i.files.foreach(v => fields += "files" -> JValue.num(v))
    i.hasDeletes.foreach(v => fields += "hasDeletes" -> JBool(v))
    i.snapshotId.foreach(v => fields += "snapshotId" -> JStr(v))
    i.lastSnapshotAt.foreach(v => fields += "lastSnapshotAt" -> JStr(v))
    JObj(fields.result())
  }

  private def queryResponseJson(r: Engine.QueryResult): JObj = JObj(
    "columns" -> JArr(r.columns.toVector.map(JStr(_))),
    "rows" -> JArr(r.rows.toVector.map(row => JArr(row.toVector.map(valueJson)))),
    "stats" -> JObj(
      "executionTimeMs" -> JValue.num(r.stats.executionTimeMs),
      "bytesScanned" -> JValue.num(r.stats.bytesScanned),
      "rowsReturned" -> JValue.num(r.stats.rowsReturned)),
    "truncated" -> JBool(r.truncated))

  /** Result-cell serialization: 64-bit-safe numbers (BigDecimal), ISO-8601
    * `Z` timestamps, base64 binary, recursive arrays/structs/maps.
    */
  private def valueJson(v: Any): JValue = v match {
    case null => JNull
    case s: String => JStr(s)
    case b: Boolean => JBool(b)
    case b: Byte => JValue.num(b.toLong)
    case s: Short => JValue.num(s.toLong)
    case i: Int => JValue.num(i.toLong)
    case l: Long => JValue.num(l)
    case f: Float => JValue.num(f.toDouble)
    case d: Double => JValue.num(d)
    case d: java.math.BigDecimal => JNum(BigDecimal(d))
    case d: BigDecimal => JNum(d)
    case t: java.sql.Timestamp => JStr(t.toInstant.toString)
    case t: java.time.Instant => JStr(t.toString)
    case d: java.sql.Date => JStr(d.toString)
    case d: java.time.LocalDate => JStr(d.toString)
    case b: Array[Byte] => JStr(java.util.Base64.getEncoder.encodeToString(b))
    case a: Array[_] => JArr(a.toVector.map(valueJson))
    case s: Seq[_] => JArr(s.toVector.map(valueJson))
    case m: Map[_, _] =>
      JObj(m.toVector.map { case (k, mv) => String.valueOf(k) -> valueJson(mv) })
    case r: Row => JArr(r.toSeq.toVector.map(valueJson))
    case other => JStr(String.valueOf(other))
  }
}

object HttpApi {

  /** One route's answer, as the one writer sends it. */
  private final case class Reply(status: Int, body: Array[Byte], contentType: String,
      disposition: Option[String] = None)

  /** Largest request body any route reads; SQL text is far smaller. */
  val MaxBodyBytes: Int = 1 << 20

  /** A JDK `HttpServer` whose connections have `TCP_NODELAY` set. The JDK
    * server writes a response's headers and body separately; under
    * Nagle's algorithm the body then waits for the client to ACK the
    * headers, which the client delays by about 40 ms, so every response
    * would pay that wait. The JDK reads `sun.net.httpserver.nodelay` once
    * per JVM, when the first server is created, and has no per-server
    * switch: every server in the process must be made here, before any
    * other, for the setting to hold. A value the process set itself is
    * left as it is.
    */
  def createServer(address: InetSocketAddress): HttpServer = {
    System.getProperties.putIfAbsent("sun.net.httpserver.nodelay", "true")
    HttpServer.create(address, 0)
  }
}

/** Server entrypoint: seeds a demo Iceberg-lite table from the sf0.001
  * documents fixture, then serves the API.
  *
  * Usage: runMain graft.gateway.HttpApiServer [port]
  */
object HttpApiServer {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(8000)
    // SPARK_MASTER is a deployment setting: it points the gateway at a
    // cluster; the builder's local[4] is the default.
    val builder = graft.SparkEntry.sessionBuilder(4)
    val spark = sys.env.get("SPARK_MASTER").fold(builder)(builder.master).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val demoDir = s"${System.getProperty("java.io.tmpdir")}/graft_demo/warehouse/demo/documents"
    graft.sources.IcebergLiteWriter.write(
      spark, graft.Tables.t(spark, "/root/testdata/sf0.001", "documents"), demoDir)
    val api = new HttpApi(spark, port, Some(demoDir))
    api.start()
    println(s"Graft API listening on ${api.address} (demo table: $demoDir)")
    Thread.currentThread().join()
  }
}
