package graft.gateway

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.Tables
import graft.sources.IcebergLiteWriter
import JValue._

/** End-to-end HTTP round-trips over the real server (reference surface:
  * /root/reference/backend/main.py:646-770).
  */
class HttpApiSpec extends AnyFunSuite with SparkFixture with BeforeAndAfterAll {

  private var api: HttpApi = _
  private var base: String = _
  private val client = HttpClient.newHttpClient()

  override def beforeAll(): Unit = {
    // Gateway sessions run no `parquet.`path`` queries; the gated reader
    // reads the fixture parquet under this root.
    System.setProperty("graft.gateway.flatFileRoot", sf0001)
    val demo = tmpDir("http_demo") + "/warehouse/documents"
    IcebergLiteWriter.write(spark, Tables.t(spark, sf0001, "documents"), demo)
    api = new HttpApi(spark, 0, Some(demo))
    api.start()
    base = api.address
  }

  override def afterAll(): Unit = {
    System.clearProperty("graft.gateway.flatFileRoot")
    if (api != null) api.stop()
  }

  private def get(path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(path: String, body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(base + path))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def obj(r: HttpResponse[String]): JObj =
    Json.parse(r.body()).asInstanceOf[JObj]

  /** The `X-Request-Id` a query route sends and logs: a random UUID. */
  private val RequestId = "[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}"

  private val connJson =
    """{"storageType":"minio","endpoint":"http://localhost:9000",
      |"accessKey":"k","secretKey":"s"}""".stripMargin

  test("GET / returns health stub") {
    val r = get("/")
    assert(r.statusCode() == 200)
    assert(obj(r).str("status").contains("running"))
  }

  test("GET /ui serves the self-contained browser client") {
    val r = get("/ui")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").orElse("").startsWith("text/html"))
    val html = r.body()
    // Drives the same API the tests exercise...
    assert(html.contains("/api/query") && html.contains("/api/format")
      && html.contains("/api/connect/test"))
    // ...and is fully self-contained: no CDN scripts, stylesheets, or any
    // cross-origin fetch (the reference's CodeMirror CDN does not exist in
    // an offline deployment).
    assert(!html.contains("https://"))
    assert(!html.contains("<script src") && !html.contains("<link"))
    // Reference-parity affordances: the STS session-token input posts
    // through conn(), and query history / recent connections persist in
    // localStorage (credentials excluded — only addressable fields are
    // stored).
    assert(html.contains("id=\"sessionToken\"")
      && html.contains("c.sessionToken = $('sessionToken').value"))
    assert(html.contains("graftQueryHistory") && html.contains("graftRecentConnections"))
    assert(html.contains("id=\"history\"") && html.contains("id=\"recent\""))
    assert(!html.contains("secretKey: c.secretKey")) // nothing persists secrets
  }

  test("GET /health returns engine version") {
    val r = get("/health")
    assert(r.statusCode() == 200)
    val o = obj(r)
    assert(o.str("status").contains("healthy"))
    assert(o.str("spark_version").exists(_.startsWith("4.")))
  }

  test("POST /api/query runs SQL with limit + stats") {
    val sql = s"SELECT r_regionkey FROM read_parquet('$sf0001/region.parquet') ORDER BY r_regionkey"
    val r = post("/api/query", s"""{"sql":"$sql","connection":$connJson,"rowLimit":3}""")
    assert(r.statusCode() == 200)
    val o = obj(r)
    assert(o.get("columns").contains(JArr(Vector(JStr("r_regionkey")))))
    assert(o.get("rows").exists { case JArr(rows) => rows.length == 3; case _ => false })
    assert(o.get("truncated").contains(JBool(true)))
    assert(o.obj("stats").flatMap(_.get("rowsReturned")).contains(JNum(BigDecimal(3))))
  }

  test("POST /api/query accepts STS temporary credentials (sessionToken)") {
    // The UI's connection form posts sessionToken when present; the whole
    // chain (JSON parse -> ConnectionConfig -> validation -> session
    // settings) must accept it — S3A would consume it as the temporary-
    // credentials provider's token on a real deployment.
    val stsConn =
      """{"storageType":"s3","endpoint":"https://s3.amazonaws.com",
        |"accessKey":"AKIDEXAMPLE","secretKey":"s",
        |"sessionToken":"FwoGZXIvYXdzEBYaDEXAMPLETOKEN123"}""".stripMargin
    val sql = s"SELECT r_name FROM read_parquet('$sf0001/region.parquet') ORDER BY r_name LIMIT 1"
    val r = post("/api/query", s"""{"sql":"$sql","connection":$stsConn}""")
    assert(r.statusCode() == 200)
    assert(obj(r).get("rows").exists {
      case JArr(rows) => rows == Vector(JArr(Vector(JStr("AFRICA")))); case _ => false
    })
  }

  test("POST /api/query rejects mutations with 400 + detail") {
    val r = post("/api/query", s"""{"sql":"DROP TABLE x","connection":$connJson}""")
    assert(r.statusCode() == 400)
    assert(obj(r).str("detail").exists(_.contains("not allowed")))
  }

  test("POST /api/query with rowLimit below 1 -> 400 + detail") {
    val sql = s"SELECT r_name FROM read_parquet('$sf0001/region.parquet')"
    Seq(0, -1).foreach { n =>
      val r = post("/api/query", s"""{"sql":"$sql","connection":$connJson,"rowLimit":$n}""")
      assert(r.statusCode() == 400, n)
      assert(obj(r).str("detail").contains("rowLimit must be >= 1"), n)
    }
  }

  test("POST /api/query with invalid JSON -> 400") {
    val r = post("/api/query", "{not json")
    assert(r.statusCode() == 400)
  }

  test("a bad unicode escape in the body -> 400 Invalid JSON, not 500") {
    val r = post("/api/query", s"""{"sql":"\\u12G4","connection":$connJson}""")
    assert(r.statusCode() == 400, r.body())
    assert(obj(r).str("detail").exists(_.startsWith("Invalid JSON: Invalid unicode escape")),
      r.body())
  }

  test("a rowLimit that is not a whole number in Int range -> 400, never a wrapped limit") {
    Seq("4294967297", "4294968296", "2.9", "\"5\"", "null").foreach { n =>
      val r = post("/api/query",
        s"""{"sql":"SELECT explode(array(0, 1, 2, 3)) AS id","connection":$connJson,"rowLimit":$n}""")
      assert(r.statusCode() == 400, n)
      assert(obj(r).str("detail").contains("rowLimit must be a whole number <= 10000"), n)
    }
    val two = post("/api/query",
      s"""{"sql":"SELECT explode(array(0, 1, 2, 3)) AS id","connection":$connJson,"rowLimit":2.0}""")
    assert(two.statusCode() == 200, two.body())
    assert(obj(two).get("rows").contains(JArr(Vector(JArr(Vector(JNum(0))), JArr(Vector(JNum(1)))))),
      two.body())
  }

  test("a deeply nested JSON body gets 400 and the next request is served") {
    // Bounded wait: a request thread that dies mid-parse never answers.
    val deep = client.send(
      HttpRequest.newBuilder(URI.create(base + "/api/query"))
        .timeout(java.time.Duration.ofSeconds(60))
        .POST(HttpRequest.BodyPublishers.ofString("[" * 5000 + "]" * 5000)).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(deep.statusCode() == 400)
    assert(obj(deep).str("detail").exists(_.startsWith("Invalid JSON: Nesting deeper than")))
    val next = post("/api/query", s"""{"sql":"SELECT 1 AS one","connection":$connJson}""")
    assert(next.statusCode() == 200)
  }

  test("POST /api/query without sql -> 400") {
    val r = post("/api/query", s"""{"connection":$connJson}""")
    assert(r.statusCode() == 400)
  }

  test("POST /api/connect/test succeeds against the demo table") {
    val r = post("/api/connect/test", s"""{"connection":$connJson}""")
    assert(r.statusCode() == 200)
    val info = obj(r).obj("tableInfo").get
    assert(info.str("format").contains("iceberg-v2"))
    assert(info.get("rows").exists { case JNum(n) => n.toLong > 0; case _ => false })
    // snapshotId is a string (64-bit JS-precision guard).
    assert(info.str("snapshotId").exists(_.forall(_.isDigit)))
  }

  test("POST /api/connect/test with bad config -> 400, no internals leaked") {
    val bad = """{"connection":{"storageType":"minio","endpoint":"http://x",
      |"accessKey":"k","secretKey":"s","tablePath":"s3://nope/missing"}}""".stripMargin
    val r = post("/api/connect/test", bad)
    assert(r.statusCode() == 400)
    assert(obj(r).str("detail").contains("Connection test failed"))
  }

  test("GET /api/demo/connection returns canned config") {
    val o = obj(get("/api/demo/connection"))
    assert(o.str("storageType").contains("minio"))
    assert(o.str("tablePath").exists(_.nonEmpty))
  }

  test("GET /api/demo/queries returns runnable samples — ALL five execute") {
    val o = obj(get("/api/demo/queries"))
    val queries = o.get("queries").collect { case JArr(q) => q }.get
    assert(queries.size == 5)
    // Every sample runs through /api/query — including the last one,
    // which is served in the reference's DuckDB dialect
    // (UNNEST(string_split(...))) and exercises the pre-pass end to end.
    queries.foreach { q =>
      val sql = q.asInstanceOf[JObj].str("sql").get.replace("\"", "\\\"")
      val r = post("/api/query", s"""{"sql":"$sql","connection":$connJson}""")
      assert(r.statusCode() == 200, s"$sql -> ${r.body().take(200)}")
      assert(obj(r).get("rows").exists {
        case JArr(rows) => rows.nonEmpty; case _ => false
      }, sql)
    }
    assert(queries.last.asInstanceOf[JObj].str("sql").get.contains("UNNEST(string_split"))
  }

  test("the reference's five demo queries run VERBATIM through /api/query") {
    import spark.implicits._
    // A table with the reference demo dataset's shape (movies); the SQL
    // below is copied character-for-character from backend/main.py:738-770
    // with only the table path substituted — exactly what the reference's
    // own f-string does.
    val moviesDir = tmpDir("http_movies") + "/warehouse/demo/movies"
    IcebergLiteWriter.write(spark, Seq(
      ("The Long One", "movie", 1994, 201, "Drama,Crime", 1990),
      ("Short Film", "short", 2001, 12, "Animation", 2000),
      ("Space Epic", "movie", 2014, 189, "Sci-Fi, Adventure", 2010),
      ("Quiet Drama", "movie", 2014, 96, "Drama", 2010),
      ("No Genres", "movie", 2020, 90, null, 2020)
    ).toDF("primaryTitle", "titleType", "startYear", "runtimeMinutes", "genres", "decade"),
      moviesDir)
    val t = moviesDir
    val refQueries = Seq(
      s"SELECT primaryTitle, startYear, runtimeMinutes, genres FROM iceberg_scan('$t') WHERE titleType = 'movie' ORDER BY startYear DESC LIMIT 10",
      s"SELECT COUNT(*) as total_movies FROM iceberg_scan('$t')",
      s"SELECT decade, COUNT(*) as movie_count FROM iceberg_scan('$t') WHERE titleType = 'movie' GROUP BY decade ORDER BY decade DESC",
      s"SELECT primaryTitle, startYear, runtimeMinutes FROM iceberg_scan('$t') WHERE titleType = 'movie' AND runtimeMinutes > 180 ORDER BY runtimeMinutes DESC",
      s"SELECT TRIM(genre) as genre, COUNT(*) as count FROM (SELECT UNNEST(string_split(genres, ',')) as genre FROM iceberg_scan('$t') WHERE titleType = 'movie' AND genres IS NOT NULL) GROUP BY genre ORDER BY count DESC")
    val results = refQueries.map { sql =>
      val r = post("/api/query",
        s"""{"sql":"${sql.replace("\"", "\\\"")}","connection":$connJson}""")
      assert(r.statusCode() == 200, s"$sql -> ${r.body()}")
      obj(r)
    }
    // Sample Movies: 4 movies, newest first.
    assert(results(0).get("rows").exists { case JArr(rs) => rs.length == 4; case _ => false })
    // Row Count: 5 total.
    assert(results(1).get("rows").contains(JArr(Vector(JArr(Vector(JNum(BigDecimal(5))))))))
    // Long Movies: the two > 180 minutes, longest first.
    assert(results(3).get("rows").exists {
      case JArr(rs) => rs.map(_.asInstanceOf[JArr].items.head) ==
        Vector(JStr("The Long One"), JStr("Space Epic"))
      case _ => false
    })
    // Popular Genres (the UNNEST/string_split one): genres split on ',' and
    // trimmed — " Adventure" surfaces as "Adventure"; Drama counted twice.
    val genreRows = results(4).get("rows").collect {
      case JArr(rs) => rs.map { r =>
        val cols = r.asInstanceOf[JArr].items
        (cols(0).asInstanceOf[JStr].v, cols(1).asInstanceOf[JNum].v.toInt)
      }
    }.get
    assert(genreRows.toMap == Map(
      "Drama" -> 2, "Crime" -> 1, "Sci-Fi" -> 1, "Adventure" -> 1))
  }

  test("an unmapped DuckDB function returns a precise 400, not UNRESOLVED_ROUTINE") {
    val r = post("/api/query",
      s"""{"sql":"SELECT list_aggregate(array(1, 2), 'sum')","connection":$connJson}""")
    assert(r.statusCode() == 400, r.body())
    val detail = obj(r).str("detail").getOrElse("")
    // Rejected while Spark analyzes the statement, so it carries the prefix
    // every analysis error does.
    assert(detail.startsWith(
      "Query execution failed: unsupported DuckDB function list_aggregate;"), detail)
    assert(detail.contains("supported DuckDB-dialect functions"), detail)
    assert(!detail.contains("UNRESOLVED_ROUTINE"), detail)
  }

  test("maintenance compaction: 403 when disabled, remediated MoR table when enabled") {
    import spark.implicits._
    val dir = tmpDir("http_maint") + "/warehouse/maint/docs"
    IcebergLiteWriter.write(spark,
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "v"), dir)
    IcebergLiteWriter.upsert(spark,
      Seq((2L, 99.0)).toDF("id", "v"), dir, Seq("id"))
    // The delete guard blocks queries on the MoR table and names the
    // remediation endpoint (iceberg_scan's own guard; local paths can't
    // ride connection.tablePath, which is S3-only by validation).
    val blocked = post("/api/query",
      s"""{"sql":"SELECT COUNT(*) AS n FROM iceberg_scan('$dir')","connection":$connJson}""")
    assert(blocked.statusCode() == 400, blocked.body())
    assert(obj(blocked).str("detail").getOrElse("").contains("/api/maintenance/compact"),
      blocked.body())
    // Off by default: mutating endpoints need the explicit opt-in.
    assert(!Engine.maintenanceEnabled)
    val denied = post("/api/maintenance/compact",
      s"""{"tablePath":"$dir","connection":$connJson}""")
    assert(denied.statusCode() == 403, denied.body())
    assert(obj(denied).str("detail").getOrElse("").contains("maintenance is disabled"))
    // Enabled: the delete-applying rewrite runs, and the table passes the
    // guard with the upserted value winning.
    System.setProperty("graft.gateway.maintenance", "true")
    try {
      val ok = post("/api/maintenance/compact",
        s"""{"tablePath":"$dir","connection":$connJson}""")
      assert(ok.statusCode() == 200, ok.body())
      val o = obj(ok)
      assert(o.get("deletesApplied").contains(JBool(true)), ok.body())
      val q = post("/api/query",
        s"""{"sql":"SELECT v FROM iceberg_scan('$dir') WHERE id = 2","connection":$connJson}""")
      assert(q.statusCode() == 200, q.body())
      assert(obj(q).get("rows").contains(
        JArr(Vector(JArr(Vector(JNum(BigDecimal(99.0))))))), q.body())
    } finally System.clearProperty("graft.gateway.maintenance")
    // A missing tablePath is a 400, not a crash.
    System.setProperty("graft.gateway.maintenance", "true")
    try {
      val bad = post("/api/maintenance/compact", s"""{"connection":$connJson}""")
      assert(bad.statusCode() == 400, bad.body())
      assert(obj(bad).str("detail").getOrElse("").contains("tablePath"))
    } finally System.clearProperty("graft.gateway.maintenance")
  }

  test("a targetBytes that is not a positive whole Long -> 400 before any table is written") {
    import spark.implicits._
    val dir = tmpDir("http_maint_target") + "/warehouse/maint/docs"
    IcebergLiteWriter.write(spark, Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"), dir)
    IcebergLiteWriter.upsert(spark, Seq((2L, 99.0)).toDF("id", "v"), dir, Seq("id"))
    def files = {
      val root = java.nio.file.Paths.get(dir)
      val walk = java.nio.file.Files.walk(root)
      try walk.filter(java.nio.file.Files.isRegularFile(_)).toArray.map(_.toString).sorted.toSeq
      finally walk.close()
    }
    val before = files
    System.setProperty("graft.gateway.maintenance", "true")
    try {
      Seq("0", "-1", "1.5", "9223372036854775808", "\"1\"", "null").foreach { n =>
        val r = post("/api/maintenance/compact",
          s"""{"tablePath":"$dir","targetBytes":$n,"connection":$connJson}""")
        assert(r.statusCode() == 400, n)
        assert(obj(r).str("detail").contains(
          "targetBytes must be a positive whole number of bytes"), n)
      }
      assert(files == before)
      // A target past 32 bits is read whole: 4294967296 is 4 GiB, not the
      // 0 its low 32 bits would give.
      val big = post("/api/maintenance/compact",
        s"""{"tablePath":"$dir","targetBytes":4294967296,"connection":$connJson}""")
      assert(big.statusCode() == 200, big.body())
    } finally System.clearProperty("graft.gateway.maintenance")
  }

  test("CORS headers present; unknown route 404") {
    val r = get("/nope")
    assert(r.statusCode() == 404)
    assert(r.headers().firstValue("Access-Control-Allow-Origin").orElse("") == "*")
  }

  test("POST /api/query/export streams the result as CSV (A14)") {
    val sql = s"SELECT r_regionkey, r_name FROM read_parquet('$sf0001/region.parquet') ORDER BY r_regionkey"
    val r = post("/api/query/export", s"""{"sql":"$sql","connection":$connJson,"rowLimit":2}""")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").orElse("").startsWith("text/csv"))
    assert(r.headers().firstValue("Content-Disposition").orElse("").contains(".csv"))
    val lines = r.body().split("\n").toSeq
    assert(lines.head == "\"r_regionkey\",\"r_name\"")
    assert(lines(1) == "\"0\",\"AFRICA\"")
    assert(lines.length == 3) // header + 2 limited rows
    // Errors keep the JSON error contract.
    val bad = post("/api/query/export", s"""{"sql":"DROP TABLE x","connection":$connJson}""")
    assert(bad.statusCode() == 400)
    assert(obj(bad).str("detail").exists(_.contains("not allowed")))
  }

  test("POST /api/format mirrors the reference formatter (A15)") {
    val r = post("/api/format",
      """{"sql":"SELECT a, b FROM t WHERE x = 1 AND y = 2 ORDER BY a LIMIT 5"}""")
    assert(r.statusCode() == 200)
    val formatted = obj(r).str("formatted").get
    // Note the 5 spaces before `b`: the comma rule inserts 4 and the
    // original space survives — byte-for-byte the reference's output.
    assert(formatted ==
      "SELECT a,\n     b\nFROM t\nWHERE x = 1\n  AND y = 2\nORDER BY a\nLIMIT 5")
    assert(post("/api/format", "{}").statusCode() == 400)
  }

  test("a body over MaxBodyBytes gets 413 on both query routes; one at the cap is read") {
    def padded(json: String, size: Int) = json + " " * (size - json.length)
    val query = s"""{"sql":"SELECT 1 AS one","connection":$connJson}"""
    Seq("/api/query", "/api/query/export").foreach { route =>
      val r = post(route, padded(query, HttpApi.MaxBodyBytes + 1))
      assert(r.statusCode() == 413, route)
      assert(obj(r).str("detail").exists(_.contains(HttpApi.MaxBodyBytes.toString)), route)
    }
    val atCap = post("/api/query", padded(query, HttpApi.MaxBodyBytes))
    assert(atCap.statusCode() == 200)
    assert(obj(atCap).get("rows").contains(JArr(Vector(JArr(Vector(JValue.num(1L)))))))
  }

  /** Runs `body` with the lines HttpApi logs meanwhile, at INFO. */
  private def withLogLines[A](body: java.util.Queue[String] => A): A = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("query-lines", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage +
        Option(e.getThrown).fold("")(t => s" thrown=${t.getClass.getName}"))
    }
    appender.start()
    val logger = LogManager.getLogger(classOf[HttpApi]).asInstanceOf[Logger]
    val level = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(Level.INFO)
    try body(lines)
    finally {
      logger.removeAppender(appender)
      logger.setLevel(level)
      appender.stop()
    }
  }

  /** Posts `body` to `route`; returns the response and the one line logged
    * for it, found by its request id: the server logs after the response
    * is sent, so an earlier request's line may still arrive meanwhile.
    */
  private def postLogged(lines: java.util.Queue[String], route: String,
      body: String): (HttpResponse[String], String) = {
    val r = post(route, body)
    val id = r.headers().firstValue("X-Request-Id").orElse("")
    assert(id.nonEmpty, route)
    def own = lines.toArray(Array.empty[String]).toSeq.filter(_.startsWith(s"query id=$id "))
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (own.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    Thread.sleep(100)
    assert(own.size == 1, lines)
    (r, own.head)
  }

  test("each /api/query request logs one INFO line: status, time, input rows, mode; no credentials") {
    val secretConn = connJson.replace("\"s\"", "\"s3cr3t-never-logged\"")
    def logged(lines: java.util.Queue[String], sql: String): String =
      postLogged(lines, "/api/query", s"""{"sql":"$sql","connection":$secretConn}""")._2
    withLogLines { lines =>
      val one = logged(lines, "SELECT 1 AS one")
      assert(one.matches(
        s"query id=$RequestId status=200 ms=\\d+ inputRows=1 mode=interpreted ran=thread unknownLeaf=-"), one)
      val flat = logged(lines, s"SELECT COUNT(*) AS n FROM read_parquet('$sf0001/region.parquet')")
      assert(flat.matches(
        s"query id=$RequestId status=200 ms=\\d+ inputRows=- mode=compiled ran=jobs unknownLeaf=InMemoryFileIndex"), flat)
      val refused = logged(lines, "DROP TABLE x")
      assert(refused.matches(s"query id=$RequestId status=400 ms=\\d+ inputRows=- mode=- ran=- unknownLeaf=-"), refused)
      assert(!Seq(one, flat, refused).exists(_.contains("s3cr3t")))
    }
  }

  test("both query routes send an X-Request-Id header, the id their log line carries") {
    val one = s"""{"sql":"SELECT 1 AS one","connection":$connJson}"""
    val refused = s"""{"sql":"DROP TABLE x","connection":$connJson}"""
    withLogLines { lines =>
      val ids = Seq(("/api/query", one, 200, "1", "interpreted", "thread"),
          ("/api/query/export", one, 200, "1", "interpreted", "thread"),
          ("/api/query", refused, 400, "-", "-", "-"),
          ("/api/query/export", refused, 400, "-", "-", "-")).map {
        case (route, body, status, rows, mode, ran) =>
          val (r, line) = postLogged(lines, route, body)
          assert(r.statusCode() == status, route)
          val id = r.headers().firstValue("X-Request-Id").orElse("")
          assert(id.matches(RequestId), route)
          assert(line.matches(s"query id=$id status=$status ms=\\d+ inputRows=$rows mode=$mode ran=$ran unknownLeaf=-"),
            s"$route: $line")
          if (route == "/api/query" && status == 200) {
            assert(obj(r).fields.map(_._1) == Vector("columns", "rows", "stats", "truncated"))
            assert(obj(r).obj("stats").get.fields.map(_._1) ==
              Vector("executionTimeMs", "bytesScanned", "rowsReturned"))
          }
          id
      }
      assert(ids.distinct.length == ids.length)
    }
  }

  private def send(method: String, path: String, body: String = ""): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(base + path))
        .timeout(java.time.Duration.ofSeconds(20))
        .method(method,
          if (body.isEmpty) HttpRequest.BodyPublishers.noBody()
          else HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def assertCors(r: HttpResponse[String], clue: Any): Unit =
    Seq("Origin", "Methods", "Headers").foreach { h =>
      assert(r.headers().firstValue(s"Access-Control-Allow-$h").orElse("") == "*", clue)
    }

  /** Every route with a request it serves: (method, path, body, status,
    * Content-Type, Content-Disposition pattern, the JSON body's keys in
    * order; None for a body that is not JSON).
    */
  private val routeContract = Seq(
    ("GET", "/", "", 200, "application/json", "", Some(Seq("message", "version", "status"))),
    ("GET", "/ui", "", 200, "text/html; charset=utf-8", "", None),
    ("GET", "/health", "", 200, "application/json", "",
      Some(Seq("status", "spark_version", "timestamp"))),
    ("POST", "/api/connect/test", s"""{"connection":$connJson}""", 200, "application/json", "",
      Some(Seq("status", "message", "tableInfo"))),
    ("POST", "/api/query", s"""{"sql":"SELECT 1 AS one","connection":$connJson}""", 200,
      "application/json", "", Some(Seq("columns", "rows", "stats", "truncated"))),
    ("POST", "/api/query/export", s"""{"sql":"SELECT 1 AS one","connection":$connJson}""", 200,
      "text/csv", "attachment; filename=graft-results-\\d+\\.csv", None),
    ("POST", "/api/format", """{"sql":"SELECT 1"}""", 200, "application/json", "",
      Some(Seq("formatted"))),
    ("POST", "/api/maintenance/compact", s"""{"connection":$connJson}""", 403,
      "application/json", "", Some(Seq("detail"))),
    ("GET", "/api/demo/connection", "", 200, "application/json", "",
      Some(Seq("storageType", "endpoint", "accessKey", "secretKey", "region", "tablePath"))),
    ("GET", "/api/demo/queries", "", 200, "application/json", "", Some(Seq("queries"))))

  test("route contract: every route's status, content type, disposition, CORS and body keys") {
    routeContract.foreach { case (method, path, body, status, contentType, disposition, keys) =>
      val r = send(method, path, body)
      assert(r.statusCode() == status, s"$method $path: ${r.body()}")
      assert(r.headers().firstValue("Content-Type").orElse("") == contentType, path)
      assert(r.headers().firstValue("Content-Disposition").orElse("").matches(disposition), path)
      assertCors(r, path)
      keys.foreach(k => assert(obj(r).fields.map(_._1) == k, path))
    }
    assert(send("POST", "/api/query/export",
      s"""{"sql":"SELECT 1 AS one","connection":$connJson}""").body() == "\"one\"\n\"1\"\n")
  }

  test("route contract: OPTIONS on every route is 204 with CORS, a wrong method 405") {
    routeContract.map(_._2).distinct.foreach { path =>
      val r = send("OPTIONS", path)
      assert(r.statusCode() == 204, path)
      assert(r.body().isEmpty, path)
      assertCors(r, path)
    }
    for ((method, path) <- Seq(("GET", "/api/query"), ("GET", "/api/query/export"),
        ("PUT", "/api/format"), ("POST", "/health"), ("DELETE", "/api/demo/queries"))) {
      val r = send(method, path, if (method == "GET") "" else "{}")
      assert(r.statusCode() == 405, s"$method $path")
      assert(obj(r) == JObj("detail" -> JStr("Method Not Allowed")), s"$method $path")
      assertCors(r, s"$method $path")
    }
  }

  test("route contract: a path is served only when it equals a route's path") {
    for ((method, path) <- Seq(("POST", "/api/queryXYZ"), ("POST", "/api/query/export2"),
        ("POST", "/api/format2"), ("GET", "/api/demo/queries/x"), ("POST", "/api/query/"),
        ("GET", "/healthz"), ("OPTIONS", "/nope"))) {
      val r = send(method, path,
        if (method == "POST") s"""{"sql":"SELECT 1 AS one","connection":$connJson}""" else "")
      assert(r.statusCode() == 404, s"$method $path: ${r.body()}")
      assert(obj(r) == JObj("detail" -> JStr("Not Found")), s"$method $path")
      assertCors(r, s"$method $path")
    }
  }

  test("a statement that overflows the stack gets 400 and a logged trace; the next request is served") {
    val sql = "SELECT " + "(" * 3000 + "1" + ")" * 3000 + " AS x"
    withLogLines { lines =>
      // Bounded wait: a request thread that dies unanswered times out.
      val r = send("POST", "/api/query", s"""{"sql":"$sql","connection":$connJson}""")
      assert(r.statusCode() == 400, r.body())
      assert(obj(r) == JObj("detail" -> JStr("Request nests too deeply to process")))
      val id = r.headers().firstValue("X-Request-Id").orElse("")
      val deadline = System.nanoTime() + 10L * 1000000000L
      def line = lines.toArray(Array.empty[String]).find(_.startsWith(s"query id=$id ")).getOrElse("")
      while (line.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
      assert(line.matches(s"query id=$id status=400 ms=\\d+ inputRows=- mode=- ran=- unknownLeaf=-"), line)
      assert(lines.contains(
        s"400 on POST /api/query id=$id: stack overflow thrown=java.lang.StackOverflowError"), lines)
    }
    val next = post("/api/query", s"""{"sql":"SELECT 1 AS one","connection":$connJson}""")
    assert(next.statusCode() == 200, next.body())
  }

  test("keep-alive responses are not held back by Nagle's algorithm") {
    // With Nagle on, the JDK server's separate body write waits for the
    // client's delayed ACK of the headers: about 40 ms per response.
    val http11 = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val request = HttpRequest.newBuilder(URI.create(base + "/api/format"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString("""{"sql":"SELECT 1"}""")).build()
    val ms = (1 to 25).map { _ =>
      val t0 = System.nanoTime()
      assert(http11.send(request, HttpResponse.BodyHandlers.ofString()).statusCode() == 200)
      (System.nanoTime() - t0) / 1e6
    }.drop(5).sorted
    val median = (ms(9) + ms(10)) / 2
    assert(median < 10.0, ms.mkString("ms: ", ", ", ""))
  }

  test("stop() ends the request threads, so the JVM can exit") {
    val own = new HttpApi(spark, 0, None)
    own.start()
    val r = client.send(
      HttpRequest.newBuilder(URI.create(own.address + "/")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200)
    own.stop()
    assert(own.executor.isTerminated)
  }
}
