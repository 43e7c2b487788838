package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkFixture, Tables}
import graft.gateway.{ConnectionConfig, Engine, HttpApi}

/** A9 end-to-end: a stub Iceberg REST catalog (the two GET endpoints of
  * the public rest-catalog-open-api surface) backed by a real
  * IcebergLiteWriter fixture, driven through RestCatalogClient,
  * Engine.runConnectionTest, and Engine.executeQuery catalog references —
  * mirroring the reference's attach + SHOW TABLES probe + catalog query
  * flow (/root/reference/backend/main.py:317-358,543-549).
  */
class RestCatalogSpec extends AnyFunSuite with SparkFixture with BeforeAndAfterAll {

  private var server: HttpServer = _
  private var endpoint: String = _
  private var metadataLoc: String = _
  private val goodToken = "Bearer ak:sk"
  private val requests = new java.util.concurrent.atomic.AtomicInteger()

  override def beforeAll(): Unit = {
    val dir = tmpDir("rest_cat") + "/warehouse/movies"
    IcebergLiteWriter.write(spark,
      Tables.t(spark, sf0001, "nation").select("n_nationkey", "n_name"), dir)
    metadataLoc = IcebergLite
      .latestMetadataPath(spark.sparkContext.hadoopConfiguration, dir).get.toString

    // Made through the gateway's factory: the JDK reads its socket settings
    // at the first server the JVM creates, whichever suite runs first.
    server = HttpApi.createServer(new InetSocketAddress("127.0.0.1", 0))
    def reply(ex: HttpExchange, status: Int, body: String): Unit = {
      requests.incrementAndGet()
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(status, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
    def authed(ex: HttpExchange)(ok: => (Int, String)): Unit = {
      val hdr = Option(ex.getRequestHeaders.getFirst("Authorization"))
      if (!hdr.contains(goodToken)) reply(ex, 401, """{"error":"unauthorized"}""")
      else { val (s, b) = ok; reply(ex, s, b) }
    }
    server.createContext("/v1/namespaces/demo/tables/movies", ex =>
      authed(ex)((200,
        s"""{"metadata-location":"$metadataLoc","metadata":{"format-version":2}}""")))
    server.createContext("/v1/namespaces/demo/tables", ex =>
      authed(ex)((200,
        """{"identifiers":[{"namespace":["demo"],"name":"movies"}]}""")))
    server.createContext("/v1/namespaces/empty/tables", ex =>
      authed(ex)((200, """{"identifiers":[]}""")))
    server.start()
    endpoint = s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  override def afterAll(): Unit = if (server != null) server.stop(0)

  private def cfg(ak: String = "ak", sk: String = "sk") = ConnectionConfig(
    storageType = "minio", endpoint = "http://localhost:9000",
    accessKey = ak, secretKey = sk,
    catalogType = "rest", catalogEndpoint = Some(endpoint),
    namespace = Some("demo"))

  test("client lists namespace tables and resolves a metadata location") {
    val client = RestCatalogClient.fromConfig(cfg())
    assert(client.listTables("demo") == Seq("movies"))
    assert(client.listTables("empty").isEmpty)
    assert(client.metadataLocation("demo", "movies") == metadataLoc)
  }

  test("client surfaces HTTP failures as CatalogError") {
    val bad = RestCatalogClient.fromConfig(cfg(sk = "wrong"))
    val e = intercept[RestCatalogClient.CatalogError](bad.listTables("demo"))
    assert(e.message.contains("401"))
    val missing = RestCatalogClient.fromConfig(cfg())
    intercept[RestCatalogClient.CatalogError](missing.listTables("nope"))
  }

  test("connection test succeeds against the catalog and mirrors reference TableInfo") {
    val info = Engine.runConnectionTest(spark, cfg())
    assert(info.isDefined)
    assert(info.get.path == "iceberg_catalog.demo")
    assert(info.get.suggestedQuery == "SHOW TABLES FROM iceberg_catalog.demo")
  }

  test("connection test degrades to None on bad credentials") {
    assert(Engine.runConnectionTest(spark, cfg(sk = "wrong")).isEmpty)
  }

  test("SELECT over iceberg_catalog.ns.table reads the fixture through the REST chain") {
    val r = Engine.executeQuery(spark,
      "SELECT n_nationkey, n_name FROM iceberg_catalog.demo.movies ORDER BY n_nationkey",
      cfg())
    assert(r.rows.length == 25)
    assert(r.columns == Seq("n_nationkey", "n_name"))
    assert(r.rows.head(1).toString == "NATION_0")
  }

  test("the suggested SHOW TABLES query executes via the catalog listing") {
    val r = Engine.executeQuery(spark, "SHOW TABLES FROM iceberg_catalog.demo", cfg())
    assert(r.rows.map(_.toList) == Seq(List("demo", "movies")))
    val empty = Engine.executeQuery(spark, "SHOW TABLES FROM iceberg_catalog.empty", cfg())
    assert(empty.rows.isEmpty)
  }

  test("catalog-table join with a bound iceberg_scan works in one query") {
    val dir2 = tmpDir("rest_cat2") + "/warehouse/other"
    IcebergLiteWriter.write(spark,
      Tables.t(spark, sf0001, "region").select("r_regionkey", "r_name"), dir2)
    val r = Engine.executeQuery(spark,
      s"""SELECT m.n_name, r.r_name FROM iceberg_catalog.demo.movies m
         |JOIN iceberg_scan('$dir2') r ON m.n_nationkey % 5 = r.r_regionkey
         |ORDER BY m.n_name LIMIT 3""".stripMargin,
      cfg())
    assert(r.rows.length == 3)
  }

  test("catalog references inside a literal or a comment send no catalog request") {
    requests.set(0)
    val r = Engine.executeQuery(spark,
      "SELECT 'iceberg_catalog.demo.movies' AS t, 'SHOW TABLES FROM iceberg_catalog.demo' AS s " +
        "-- FROM iceberg_catalog.demo.movies",
      cfg())
    assert(r.rows == Seq(Seq("iceberg_catalog.demo.movies", "SHOW TABLES FROM iceberg_catalog.demo")))
    assert(requests.get == 0)
  }

  test("a rejected CREATE VIEW or INSERT naming a catalog table sends no catalog request") {
    requests.set(0)
    Seq(
      "CREATE VIEW v AS SELECT * FROM iceberg_catalog.demo.movies",
      "INSERT INTO t SELECT * FROM iceberg_catalog.demo.movies").foreach { sql =>
      val e = intercept[Engine.EngineError](Engine.executeQuery(spark, sql, cfg()))
      assert(e.status == 400, e.detail)
    }
    assert(requests.get == 0)
  }

  test("a SELECT over one catalog reference sends exactly one LoadTable request") {
    requests.set(0)
    val r = Engine.executeQuery(spark,
      "SELECT COUNT(*) AS n FROM iceberg_catalog.demo.movies", cfg())
    assert(r.rows == Seq(Seq(25L)))
    assert(requests.get == 1)
  }

  test("a wrong token gets the catalog's 401 as a 400; the good token still works after it") {
    val sql = "SELECT COUNT(*) AS n FROM iceberg_catalog.demo.movies"
    assert(Engine.executeQuery(spark, sql, cfg()).rows == Seq(Seq(25L)))
    val e = intercept[Engine.EngineError](Engine.executeQuery(spark, sql, cfg(sk = "wrong")))
    assert(e.status == 400 && e.detail.contains("401"), e.detail)
    assert(Engine.executeQuery(spark, sql, cfg()).rows == Seq(Seq(25L)))
  }

  test("a REST config without catalogEndpoint runs SELECT 1; a catalog reference names the gap") {
    val noEndpoint = cfg().copy(catalogEndpoint = None)
    assert(Engine.executeQuery(spark, "SELECT 1 AS one", noEndpoint).rows == Seq(Seq(1)))
    Seq(
      "SELECT * FROM iceberg_catalog.demo.movies" -> noEndpoint,
      "SHOW TABLES FROM iceberg_catalog.demo" -> noEndpoint,
      // A direct call on a connection with no REST catalog at all.
      "SELECT * FROM iceberg_catalog_scan('demo', 'movies')" -> cfg().copy(catalogType = "none")
    ).foreach { case (sql, c) =>
      val e = intercept[Engine.EngineError](Engine.executeQuery(spark, sql, c))
      assert(e.status == 400 && e.detail.contains("catalogEndpoint required"), e.detail)
    }
  }

  test("direct catalog function calls take identifiers only; listed names are filtered") {
    requests.set(0)
    Seq(
      "iceberg_catalog_scan('demo', '../movies')" ->
        "iceberg_catalog_scan: table '../movies' is not an identifier",
      "iceberg_catalog_scan('demo/tables', 'movies')" ->
        "iceberg_catalog_scan: namespace 'demo/tables' is not an identifier",
      "iceberg_catalog_tables('demo', 'x')" -> "iceberg_catalog_tables: takes (namespace)",
      "iceberg_catalog_tables(concat('de', 'mo'))" ->
        "iceberg_catalog_tables: namespace must be a string literal").foreach {
      case (call, reason) =>
        val e = intercept[Engine.EngineError](
          Engine.executeQuery(spark, s"SELECT * FROM $call", cfg()))
        assert(e.status == 400 && e.detail.contains(reason), e.detail)
    }
    assert(requests.get == 0)
    server.createContext("/v1/namespaces/hostile/tables", ex => {
      requests.incrementAndGet()
      val body = """{"identifiers":[{"namespace":["hostile"],"name":"ok_t"},""" +
        """{"namespace":["hostile"],"name":"x') UNION SELECT 1 --"}]}"""
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    val r = Engine.executeQuery(spark, "SHOW TABLES IN iceberg_catalog.hostile", cfg())
    assert(r.rows.map(_.toList) == Seq(List("hostile", "ok_t")))
  }
}
