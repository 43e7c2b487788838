package graft.sources

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import graft.gateway.{ConnectionConfig, JValue, Json}
import graft.gateway.JValue.{JArr, JObj}

/** Minimal Iceberg REST-catalog client over the public REST catalog
  * OpenAPI surface (apache/iceberg `open-api/rest-catalog-open-api.yaml`):
  * list the tables of a namespace and load a table to its
  * `metadata-location`, then hand off to the [[IcebergLite]] metadata
  * chain. The reference attaches the catalog through its engine's iceberg
  * extension (/root/reference/backend/main.py:317-358); no Iceberg runtime
  * jar ships in this build, so the two GET endpoints the gateway needs are
  * spoken directly.
  *
  * Scale note: catalog calls are per-query control-plane traffic (two
  * small GETs), never on the data path.
  */
final class RestCatalogClient(
    baseUri: String,
    token: Option[String] = None,
    timeoutMs: Int = 10000) {
  import RestCatalogClient.CatalogError

  private val root = baseUri.stripSuffix("/")

  private def get(path: String): JValue = {
    val conn = new URI(root + path).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    try {
      conn.setRequestMethod("GET")
      conn.setConnectTimeout(timeoutMs)
      conn.setReadTimeout(timeoutMs)
      conn.setRequestProperty("Accept", "application/json")
      token.filter(_.nonEmpty).foreach(t =>
        conn.setRequestProperty("Authorization", s"Bearer $t"))
      val status = conn.getResponseCode
      val stream = if (status < 400) conn.getInputStream else conn.getErrorStream
      val body = Option(stream)
        .map(s => try new String(s.readAllBytes(), StandardCharsets.UTF_8) finally s.close())
        .getOrElse("")
      if (status < 200 || status >= 300)
        throw CatalogError(s"REST catalog GET $path failed: HTTP $status")
      Json.parse(body)
    } finally conn.disconnect()
  }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)

  /** `GET /v1/namespaces/{ns}/tables` -> table names (ListTablesResponse:
    * `{"identifiers": [{"namespace": [...], "name": "t"}, ...]}`).
    */
  def listTables(namespace: String): Seq[String] =
    get(s"/v1/namespaces/${enc(namespace)}/tables") match {
      case o: JObj => o.get("identifiers") match {
        case Some(JArr(ids)) =>
          ids.collect { case t: JObj => t.str("name") }.flatten
        case _ => Nil
      }
      case _ => throw CatalogError("ListTables response is not a JSON object")
    }

  /** `GET /v1/namespaces/{ns}/tables/{table}` -> the LoadTableResult's
    * `metadata-location`, the entry point of the IcebergLite chain.
    */
  def metadataLocation(namespace: String, table: String): String =
    get(s"/v1/namespaces/${enc(namespace)}/tables/${enc(table)}") match {
      case o: JObj => o.str("metadata-location").getOrElse(
        throw CatalogError(s"LoadTable $namespace.$table has no metadata-location"))
      case _ => throw CatalogError("LoadTable response is not a JSON object")
    }
}

object RestCatalogClient {
  final case class CatalogError(message: String) extends RuntimeException(message)

  /** Client for a validated gateway config: endpoint from catalogEndpoint,
    * bearer token `accessKey:secretKey` (the shape the reference passes as
    * its catalog TOKEN, main.py:339-345).
    */
  def fromConfig(c: ConnectionConfig): RestCatalogClient =
    apply(c.catalogEndpoint.filter(_.nonEmpty), token(c))

  def token(c: ConnectionConfig): Option[String] =
    Some(s"${c.accessKey}:${c.secretKey}").filter(_ != ":")

  /** Client for `endpoint`; a [[CatalogError]] naming `catalogEndpoint`
    * when there is none.
    */
  def apply(endpoint: Option[String], token: Option[String]): RestCatalogClient =
    new RestCatalogClient(
      endpoint.getOrElse(throw CatalogError("catalogEndpoint required for REST catalog")), token)
}
