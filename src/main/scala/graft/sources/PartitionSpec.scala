package graft.sources

/** One partition-spec field of an Iceberg-lite table, in the writer's
  * mini-DSL: `"col"` (identity), `"day(col)"`, or `"bucket(N, col)"`.
  *
  * Iceberg's HIDDEN partitioning: transform fields derive from a source
  * data column at write time, land as Hive path segments (never inside
  * the data files), and queries keep filtering the SOURCE column — the
  * reader projects those predicates through the transform to prune files
  * (reference: Iceberg spec "Partition Transforms"; the `source-name`
  * key below replaces real Iceberg's source-id indirection since this
  * reader is the only consumer of the lite metadata).
  *
  * `transform` is `"identity"`, `"day"`, or `"bucket[N]"` (Iceberg's
  * spelling). The bucket hash is the repo-wide md5-prefix int (NOT
  * Iceberg's murmur3 — self-consistent within lite tables and
  * reproducible by any engine, which is what the oracle harness needs).
  */
final case class PartitionField(name: String, transform: String, source: String) {
  def bucketCount: Option[Int] =
    if (transform.startsWith("bucket["))
      Some(transform.stripPrefix("bucket[").stripSuffix("]").toInt)
    else None
}

object PartitionSpec {

  private val TimeRe = """^\s*(year|month|day|hour)\s*\(\s*([\w.]+)\s*\)\s*$""".r
  private val BucketRe = """^\s*bucket\s*\(\s*(\d+)\s*,\s*([\w.]+)\s*\)\s*$""".r
  private val TruncRe = """^\s*truncate\s*\(\s*(\d+)\s*,\s*([\w.]+)\s*\)\s*$""".r

  def parse(s: String): PartitionField = s match {
    case TimeRe(t, src) => PartitionField(s"${src}_$t", t, src)
    case BucketRe(n, src) =>
      require(n.toInt >= 1,
        s"bucket count must be >= 1 in '$s' (bucket(0, …) would send every " +
          "row to the null partition and disable pruning)")
      PartitionField(s"${src}_bucket", s"bucket[$n]", src)
    case TruncRe(w, src) =>
      require(w.toInt >= 1, s"truncate width must be >= 1 in '$s'")
      PartitionField(s"${src}_trunc", s"truncate[$w]", src)
    case name =>
      // Identity is a plain column name. Anything function-shaped that
      // did not match a known transform is a typo (days(ts), buckets(4,x),
      // …) — failing here beats silently identity-partitioning on a
      // column literally named "days(ts)".
      require(!name.contains("(") && !name.contains(")"),
        s"unknown partition transform '$name' (supported: identity column, " +
          "year/month/day/hour(col), bucket(N, col), truncate(W, col))")
      PartitionField(name.trim, "identity", name.trim)
  }

  /** Reconstruct the DSL string (what append inheritance re-feeds). */
  def toDsl(f: PartitionField): String = f.transform match {
    case "identity" => f.source
    case t @ ("year" | "month" | "day" | "hour") => s"$t(${f.source})"
    case t if t.startsWith("bucket[") => s"bucket(${f.bucketCount.get}, ${f.source})"
    case t if t.startsWith("truncate[") => s"truncate(${truncWidth(f.transform).get}, ${f.source})"
    case other => throw new IllegalArgumentException(s"unknown transform $other")
  }

  def truncWidth(transform: String): Option[Int] =
    if (transform.startsWith("truncate["))
      Some(transform.stripPrefix("truncate[").stripSuffix("]").toInt)
    else None

  /** The time transforms' path formats: fixed-width digit strings, so
    * lexicographic order == chronological order and range pruning is a
    * plain string compare.
    */
  val TimeFormats: Map[String, String] = Map(
    "year" -> "yyyy", "month" -> "yyyy-MM",
    "day" -> "yyyy-MM-dd", "hour" -> "yyyy-MM-dd-HH")

  /** Spark SQL deriving the partition value from the source column.
    * Time transforms: UTC calendar rendering (see TimeFormats) — the
    * writer pins the session timezone to UTC around the derive, and the
    * reader's file index evaluates this same expression over predicate
    * literals at UTC, so partition values are writer/reader-zone
    * independent like real Iceberg's, and writer and reader agree on
    * every transform by construction. bucket:
    * md5-prefix int64 mod N — non-negative, engine-reproducible.
    * truncate: string prefix (Iceberg's string semantics; numeric
    * truncate is refused at write rather than risking float-precision
    * drift on huge longs).
    */
  def deriveSql(f: PartitionField): String = f.transform match {
    case t @ ("year" | "month" | "day" | "hour") =>
      s"date_format(`${f.source}`, '${TimeFormats(t)}')"
    case t if t.startsWith("bucket[") =>
      s"CAST(conv(substring(md5(CAST(`${f.source}` AS STRING)), 1, 8), 16, 10) AS BIGINT) % ${f.bucketCount.get}"
    case t if t.startsWith("truncate[") =>
      s"substring(CAST(`${f.source}` AS STRING), 1, ${truncWidth(f.transform).get})"
    case "identity" => s"`${f.source}`"
    case other => throw new IllegalArgumentException(s"unknown transform $other")
  }
}
