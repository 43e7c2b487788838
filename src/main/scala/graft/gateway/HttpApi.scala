package graft.gateway

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.UUID

import scala.util.{Failure, Success, Try}

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.{Row, SparkSession}

import graft.sources.TableInfo
import JValue._

/** HTTP adapter (the reference's FastAPI surface,
  * /root/reference/backend/main.py:646-770) on the JDK's built-in
  * HttpServer — the build is offline, so no web framework resolves. Routes
  * and JSON shapes mirror the reference:
  *
  *   GET  /                    health stub
  *   GET  /health              engine version + timestamp
  *   POST /api/connect/test    {connection} -> {status,message,tableInfo}
  *   POST /api/query           {sql,connection,rowLimit} -> QueryResponse
  *   POST /api/query/export    same body -> text/csv attachment (A14)
  *   POST /api/format          {sql} -> {formatted} (A15)
  *   GET  /api/demo/connection canned demo config
  *   GET  /api/demo/queries    sample queries over the demo table
  *
  * Errors: HTTP 400 with {"detail": ...} for validation/guard/execution
  * errors, 413 for a body over [[HttpApi.MaxBodyBytes]], 500
  * {"detail":"Internal server error"} otherwise (logged with its stack
  * trace); CORS `*`. Both query routes answer with an `X-Request-Id`
  * header, the id their log line carries.
  */
final class HttpApi(spark: SparkSession, port: Int, demoTablePath: Option[String]) {

  private val server = HttpApi.createServer(new InetSocketAddress(port))
  // Non-daemon request threads: kept so stop() can shut them down.
  private[gateway] val executor =
    java.util.concurrent.Executors.newFixedThreadPool(Engine.RequestThreads)
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[HttpApi])

  def start(): Unit = {
    server.createContext("/", (ex: HttpExchange) => {
      (ex.getRequestMethod, ex.getRequestURI.getPath) match {
        // The browser client (the reference ships it as a separate static
        // frontend; here it is one self-contained HTML route).
        case ("GET", "/ui") =>
          respondRaw(ex, 200, WebUi.html.getBytes(StandardCharsets.UTF_8),
            "text/html; charset=utf-8", None)
        case ("GET", "/") =>
          respond(ex, Success((200, JObj(
            "message" -> JStr("Graft API"),
            "version" -> JStr("0.1.0"),
            "status" -> JStr("running")))))
        case ("GET", "/health") =>
          respond(ex, Success((200, JObj(
            "status" -> JStr("healthy"),
            "spark_version" -> JStr(spark.version),
            "timestamp" -> JValue.num(System.currentTimeMillis() / 1000.0)))))
        case _ => respond(ex, Success((404, JObj("detail" -> JStr("Not Found")))))
      }
    })
    server.createContext("/api/connect/test", handlerWithBody { body =>
      val conn = connectionFrom(body)
      Engine.runConnectionTest(spark, conn, demoTablePath) match {
        case Some(info) =>
          (200, JObj(
            "status" -> JStr("success"),
            "message" -> JStr("Connection successful"),
            "tableInfo" -> tableInfoJson(info)))
        case None => (400, JObj("detail" -> JStr("Connection test failed")))
      }
    })
    server.createContext("/api/query", logged { (ex, onMode) =>
      handleBody(ex)(body => (200, queryResponseJson(runQuery(body, onMode))))
    })
    // CSV export (A14): same request as /api/query, result as a text/csv
    // attachment — the server-side analog of the reference UI's
    // exportResults download (frontend/js/app.js:451-479).
    server.createContext("/api/query/export", logged { (ex, onMode) =>
      Try {
        ex.getRequestMethod match {
          case "OPTIONS" => Left((204, JObj()))
          case "POST" => Right(ResultExport.toCsv(runQuery(readBody(ex), onMode)))
          case _ => Left((405, JObj("detail" -> JStr("Method Not Allowed"))))
        }
      } match {
        case Success(Right(csv)) =>
          respondRaw(ex, 200, csv.getBytes(StandardCharsets.UTF_8), "text/csv",
            Some(s"attachment; filename=graft-results-${System.currentTimeMillis()}.csv"))
          200
        case Success(Left(r)) => respond(ex, Success(r))
        case Failure(e) => respond(ex, Failure(e))
      }
    })
    // Table maintenance (beyond-reference): the delete guard's own
    // remediation run in-house — delete-applying rewrite + small-file
    // compaction. Mutating, so gated off by default
    // (-Dgraft.gateway.maintenance=true); see Engine.runCompaction.
    server.createContext("/api/maintenance/compact", handlerWithBody { body =>
      val conn = connectionFrom(body)
      val targetBytes = body.flatMap(_.int("targetBytes")).map(_.toLong)
        .getOrElse(128L << 20)
      val r = Engine.runCompaction(spark, conn, targetBytes,
        body.flatMap(_.str("tablePath")))
      (200, JObj(
        "status" -> JStr("success"),
        "deletesApplied" -> JBool(r.deletesApplied),
        "deleteRewrite" -> JObj(
          "rewritten" -> JValue.num(r.rewriteRewritten.toLong),
          "written" -> JValue.num(r.rewriteWritten.toLong)),
        "compaction" -> JObj(
          "rewritten" -> JValue.num(r.compactRewritten.toLong),
          "written" -> JValue.num(r.compactWritten.toLong))))
    })
    // SQL formatter (A15): the reference formats in the editor
    // (frontend/js/app.js:352-369); the engine exposes the same transform
    // as an endpoint so any client gets identical output.
    server.createContext("/api/format", handlerWithBody { body =>
      val obj = body.getOrElse(throw Engine.EngineError(400, "Request body required"))
      val sql = obj.str("sql").getOrElse(throw Engine.EngineError(400, "sql is required"))
      (200, JObj("formatted" -> JStr(SqlFormatter.format(sql))))
    })
    server.createContext("/api/demo/connection", handler {
      case ("GET", _) =>
        (200, JObj(
          "storageType" -> JStr("minio"),
          "endpoint" -> JStr("http://localhost:9000"),
          "accessKey" -> JStr("graft"),
          "secretKey" -> JStr("graft123"),
          "region" -> JStr("us-east-1"),
          "tablePath" -> JStr(demoTablePath.getOrElse(""))))
      case _ => (405, JObj("detail" -> JStr("Method Not Allowed")))
    })
    server.createContext("/api/demo/queries", handler {
      case ("GET", _) =>
        val t = demoTablePath.getOrElse("")
        def q(name: String, description: String, sql: String): JValue =
          JObj("name" -> JStr(name), "description" -> JStr(description), "sql" -> JStr(sql))
        (200, JObj("queries" -> JArr(Vector(
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
      case _ => (405, JObj("detail" -> JStr("Method Not Allowed")))
    })
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

  // --- plumbing -----------------------------------------------------------

  /** The `{sql, connection, rowLimit}` request both query routes take. */
  private def runQuery(body: Option[JObj],
      onMode: Engine.ExecutionMode => Unit = _ => ()): Engine.QueryResult = {
    val obj = body.getOrElse(throw Engine.EngineError(400, "Request body required"))
    val sql = obj.str("sql").getOrElse(throw Engine.EngineError(400, "sql is required"))
    val rowLimit = obj.int("rowLimit").getOrElse(Engine.DefaultRowLimit)
    Engine.executeQuery(spark, sql, connectionFrom(body), rowLimit, onMode)
  }

  private def connectionFrom(body: Option[JObj]): ConnectionConfig = {
    val conn = body.flatMap(_.obj("connection"))
      .getOrElse(throw Engine.EngineError(400, "connection is required"))
    ConnectionConfig.fromJson(conn)
  }

  /** A query route that answers with an `X-Request-Id` header and logs one
    * INFO line per request, for "why was this request slow": that id, the
    * status, the time, and the execution mode the engine chose. Never the
    * SQL or the connection, which may carry credentials. `serve` returns
    * the status it sent.
    */
  private def logged(
      serve: (HttpExchange, Engine.ExecutionMode => Unit) => Int): HttpHandler =
    (ex: HttpExchange) => {
      val t0 = System.nanoTime()
      val id = UUID.randomUUID().toString
      ex.getResponseHeaders.set("X-Request-Id", id)
      var mode: Option[Engine.ExecutionMode] = None
      val status = serve(ex, m => mode = Some(m))
      if (log.isInfoEnabled) log.info(
        s"query id=$id status=$status ms=${(System.nanoTime() - t0) / 1000000} " +
          s"inputRows=${mode.flatMap(_.inputRows.toOption).getOrElse("-")} " +
          s"mode=${mode.fold("-")(_.name)} " +
          s"unknownLeaf=${mode.flatMap(_.inputRows.left.toOption).getOrElse("-")}")
    }

  private def handler(
      route: PartialFunction[(String, String), (Int, JValue)]): HttpHandler =
    (ex: HttpExchange) => {
      val key = (ex.getRequestMethod, ex.getRequestURI.getPath)
      val resp = Try {
        if (route.isDefinedAt(key)) route(key)
        else (404, JObj("detail" -> JStr("Not Found")))
      }
      respond(ex, resp)
    }

  private def handlerWithBody(
      route: Option[JObj] => (Int, JValue)): HttpHandler =
    (ex: HttpExchange) => handleBody(ex)(route)

  /** Serves one JSON-body POST route; returns the status sent. */
  private def handleBody(ex: HttpExchange)(route: Option[JObj] => (Int, JValue)): Int =
    respond(ex, Try {
      ex.getRequestMethod match {
        case "OPTIONS" => (204, JObj())
        case "POST" => route(readBody(ex))
        case _ => (405, JObj("detail" -> JStr("Method Not Allowed")))
      }
    })

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

  /** Sends the JSON response for `result`; returns its status. */
  private def respond(ex: HttpExchange, result: Try[(Int, JValue)]): Int = {
    val (status, payload) = result match {
      case Success(r) => r
      case Failure(e: Engine.EngineError) => (e.status, JObj("detail" -> JStr(e.detail)))
      case Failure(e: ConnectionConfig.InvalidConfig) => (400, JObj("detail" -> JStr(e.message)))
      case Failure(e: Json.JsonParseException) => (400, JObj("detail" -> JStr(s"Invalid JSON: ${e.msg}")))
      case Failure(e) =>
        log.error(s"500 on ${ex.getRequestMethod} ${ex.getRequestURI.getPath}", e)
        (500, JObj("detail" -> JStr("Internal server error")))
    }
    val bytes = payload.render.getBytes(StandardCharsets.UTF_8)
    val h = ex.getResponseHeaders
    h.set("Content-Type", "application/json")
    h.set("Access-Control-Allow-Origin", "*")
    h.set("Access-Control-Allow-Methods", "*")
    h.set("Access-Control-Allow-Headers", "*")
    if (status == 204) ex.sendResponseHeaders(status, -1)
    else {
      ex.sendResponseHeaders(status, bytes.length)
      val os = ex.getResponseBody
      os.write(bytes)
      os.close()
    }
    status
  }

  private def respondRaw(ex: HttpExchange, status: Int, bytes: Array[Byte],
      contentType: String, disposition: Option[String] = None): Unit = {
    val h = ex.getResponseHeaders
    h.set("Content-Type", contentType)
    disposition.foreach(h.set("Content-Disposition", _))
    h.set("Access-Control-Allow-Origin", "*")
    h.set("Access-Control-Allow-Methods", "*")
    h.set("Access-Control-Allow-Headers", "*")
    ex.sendResponseHeaders(status, bytes.length)
    val os = ex.getResponseBody
    os.write(bytes)
    os.close()
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
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
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
