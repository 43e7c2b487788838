package graft.gateway

/** Connection profile + ingress validation, mirroring the reference's
  * `ConnectionConfig` model (/root/reference/backend/main.py:148-218) and
  * its injection-defense regexes (main.py:114-131). Values become Spark/
  * Hadoop configuration entries rather than SQL fragments in this engine,
  * so the regexes are defense-in-depth — kept anyway for identical API
  * error behavior.
  */
final case class ConnectionConfig(
    storageType: String,
    endpoint: String,
    accessKey: String,
    secretKey: String,
    sessionToken: Option[String] = None,
    region: String = "us-east-1",
    catalogType: String = "none",
    catalogEndpoint: Option[String] = None,
    namespace: Option[String] = Some("default"),
    tablePath: Option[String] = None)

object ConnectionConfig {

  private val EndpointRe = "^[A-Za-z0-9\\-._:/@+%]+$".r
  private val RegionRe = "^[A-Za-z0-9\\-]+$".r
  private val SessionTokenRe = "^[A-Za-z0-9+/=\\-_.]+$".r
  private val UrlRe = "^https?://[A-Za-z0-9\\-._:/@]+$".r
  private val SqlIdentRe = "^[A-Za-z_][A-Za-z0-9_]*$".r
  private val S3PathRe = "^s3://[A-Za-z0-9\\-._/]+$".r

  final case class InvalidConfig(message: String) extends RuntimeException(message)

  private def requireMatch(value: String, re: scala.util.matching.Regex, field: String): String =
    if (re.matches(value)) value
    else throw InvalidConfig(s"$field contains invalid characters")

  /** Validate + normalize; throws InvalidConfig (-> HTTP 400) on bad input. */
  def validated(c: ConnectionConfig): ConnectionConfig = {
    if (!Set("s3", "r2", "minio").contains(c.storageType))
      throw InvalidConfig(s"storageType must be one of s3, r2, minio")
    if (!Set("none", "rest", "glue").contains(c.catalogType))
      throw InvalidConfig(s"catalogType must be one of none, rest, glue")
    if (c.endpoint.nonEmpty) requireMatch(c.endpoint, EndpointRe, "endpoint")
    requireMatch(c.region, RegionRe, "region")
    Seq("accessKey" -> c.accessKey, "secretKey" -> c.secretKey).foreach { case (f, v) =>
      if (v.contains('\u0000') || v.contains('\n') || v.contains('\r'))
        throw InvalidConfig(s"$f contains invalid characters")
    }
    c.sessionToken.filter(_.nonEmpty).foreach(requireMatch(_, SessionTokenRe, "sessionToken"))
    c.catalogEndpoint.filter(_.nonEmpty).foreach(requireMatch(_, UrlRe, "catalogEndpoint"))
    c.namespace.filter(_.nonEmpty).foreach(requireMatch(_, SqlIdentRe, "namespace"))
    val normPath = c.tablePath.filter(_.nonEmpty).map { raw =>
      // Normalize so downstream code can rely on a canonical table root:
      // strip trailing '/' then a trailing '/metadata' segment.
      var v = raw.reverse.dropWhile(_ == '/').reverse
      if (v.endsWith("/metadata")) v = v.dropRight("/metadata".length)
      requireMatch(v, S3PathRe, "tablePath")
    }
    c.copy(tablePath = normPath)
  }

  /** Storage-type-specific Hadoop S3A settings (the analog of the
    * reference's per-storage DuckDB `SET s3_*` block, main.py:274-314).
    * Pure mapping — returned as entries for `fs.s3a.*` so they can be
    * applied per bucket.
    */
  def s3aSettings(c: ConnectionConfig): Map[String, String] = {
    val base: Map[String, String] = c.storageType match {
      case "minio" =>
        // localhost -> in-network endpoint rewrite, scheme strip, path-style,
        // no SSL, fixed region (MinIO wants sigv4 with some region set).
        val ep = c.endpoint.replace("localhost", "minio")
          .replace("http://", "").replace("https://", "")
        Map(
          "fs.s3a.endpoint" -> ep,
          "fs.s3a.path.style.access" -> "true",
          "fs.s3a.connection.ssl.enabled" -> "false",
          "fs.s3a.endpoint.region" -> "us-east-1")
      case "r2" =>
        Map(
          "fs.s3a.endpoint" -> c.endpoint.replace("https://", ""),
          "fs.s3a.path.style.access" -> "true",
          "fs.s3a.connection.ssl.enabled" -> "true")
      case _ =>
        Map(
          "fs.s3a.endpoint.region" -> c.region,
          "fs.s3a.connection.ssl.enabled" -> "true")
    }
    val creds = Map(
      "fs.s3a.access.key" -> c.accessKey,
      "fs.s3a.secret.key" -> c.secretKey)
    val token = c.sessionToken.filter(_.nonEmpty) match {
      case Some(t) => Map(
        "fs.s3a.session.token" -> t,
        "fs.s3a.aws.credentials.provider" ->
          "org.apache.hadoop.fs.s3a.TemporaryAWSCredentialsProvider")
      case None => Map.empty[String, String]
    }
    base ++ creds ++ token
  }

  /** Decode from a request-body JSON object. */
  def fromJson(o: JValue.JObj): ConnectionConfig = ConnectionConfig(
    storageType = o.str("storageType").getOrElse(throw InvalidConfig("storageType is required")),
    endpoint = o.str("endpoint").getOrElse(""),
    accessKey = o.str("accessKey").getOrElse(""),
    secretKey = o.str("secretKey").getOrElse(""),
    sessionToken = o.str("sessionToken"),
    region = o.str("region").getOrElse("us-east-1"),
    catalogType = o.str("catalogType").getOrElse("none"),
    catalogEndpoint = o.str("catalogEndpoint"),
    namespace = o.str("namespace").orElse(Some("default")),
    tablePath = o.str("tablePath"))
}
