package graft.gateway

import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, NamedArgumentExpression}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

import graft.sources.IcebergLite

/** DuckDB's path-addressed table functions as Spark table-valued functions:
  * `iceberg_scan('path')` (the reference's surface, main.py:440,464,556),
  * `iceberg_changes`, the `iceberg_*` metadata relations, and the gated
  * flat-file readers. Each builder runs while Spark analyzes the statement
  * and returns the logical plan of the DataFrame [[IcebergLite]] or
  * `spark.read` builds for its literal arguments.
  *
  * A builder reads through `SparkSession.active`, the session analyzing
  * the statement, never one it holds: every session registers the same
  * builders and a cloned session carries its parent's, so a held session
  * would read under another request's storage settings. SqlGuard
  * validates the parsed statement before analysis, so a rejected
  * statement reaches no builder and does no IO.
  *
  * Trust model: paths reach the readers exactly as the reference's DuckDB
  * takes them; the gateway can read what its process can read. The
  * flat-file readers are gated further ([[checkFlatFilePath]]).
  */
object TableFunctions {

  /** Registers every function `spark` does not have yet. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.tableFunctionRegistry
    builders.foreach { case (name, build) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(
          name, args => build(args).queryExecution.analyzed, "built-in")
    }
  }

  private val builders: Seq[(String, Seq[Expression] => DataFrame)] = {
    def metadata(fn: String, relation: (SparkSession, String) => DataFrame) =
      fn -> ((args: Seq[Expression]) =>
        relation(SparkSession.active, path(fn, bind(fn, args, Nil))))
    def flatFile(fn: String, read: (SparkSession, String) => DataFrame) =
      fn -> ((args: Seq[Expression]) => {
        val p = flatFilePath(fn, args)
        checkFlatFilePath(fn, p)
        read(SparkSession.active, p)
      })
    val csv = (s: SparkSession, p: String) =>
      s.read.option("header", "true").option("inferSchema", "true").csv(p)
    val json = (s: SparkSession, p: String) => s.read.json(p)
    Seq(
      "iceberg_scan" -> icebergScan _,
      "iceberg_changes" -> icebergChanges _,
      metadata("iceberg_metadata", IcebergLite.metadataRelation),
      metadata("iceberg_snapshots", IcebergLite.snapshotsRelation),
      metadata("iceberg_files", IcebergLite.filesRelation),
      metadata("iceberg_partitions", IcebergLite.partitionsRelation),
      metadata("iceberg_history", IcebergLite.historyRelation),
      metadata("iceberg_refs", IcebergLite.refsRelation),
      flatFile("read_csv", csv),
      flatFile("read_csv_auto", csv),
      // The s3 glob form was rewritten to iceberg_scan by
      // DialectRewriter.convertReadParquet; a plain path is a parquet read.
      flatFile("read_parquet", (s, p) => s.read.parquet(p))) ++
      Seq("read_json", "read_ndjson").flatMap(base =>
        Seq("", "_auto", "_objects").map(suffix => flatFile(base + suffix, json)))
  }

  /** `iceberg_scan('path'[, travel])`, with at most one time-travel
    * argument: a snapshot id (`123`, `snapshot_id => 123`), a named ref
    * (`ref => 'tag'`), or a committed-at bound resolved through the
    * snapshot log (`timestamp => '2026-01-01T00:00:00Z'`, also the bare
    * `'2026-01-01 00:00:00'`), the `TIMESTAMP AS OF` analog.
    */
  private def icebergScan(args: Seq[Expression]): DataFrame = {
    val fn = "iceberg_scan"
    val a = bind(fn, args.zipWithIndex.map {
      case (e @ Literal(_, _: StringType), 1) => NamedArgumentExpression("timestamp", e)
      case (e, _) => e
    }, Seq("snapshot_id", "ref", "timestamp"))
    if (a.size > 2) throw usage(fn,
      "takes one time-travel argument: snapshot_id, ref or timestamp")
    IcebergLite.scan(SparkSession.active, path(fn, a),
      snapshotId = a.get("snapshot_id").map(long(fn, "snapshot_id", _)),
      asOfMillis = a.get("timestamp").map(e =>
        parseTravelTimestamp(string(fn, "timestamp", e))),
      ref = a.get("ref").map(string(fn, "ref", _)))
  }

  /** `iceberg_changes('path', from_snapshot => N [, to_snapshot => M])`,
    * the SQL surface over [[IcebergLite.incrementalScan]]: exactly the rows
    * appended after snapshot N (up to M or the current one). Ranges with
    * a compaction or delete commit are refused rather than read as wrong
    * deltas.
    */
  private def icebergChanges(args: Seq[Expression]): DataFrame = {
    val fn = "iceberg_changes"
    val a = bind(fn, args, Seq("from_snapshot", "to_snapshot"))
    val from = a.getOrElse("from_snapshot", throw usage(fn, "needs from_snapshot"))
    IcebergLite.incrementalScan(SparkSession.active, path(fn, a),
      long(fn, "from_snapshot", from), a.get("to_snapshot").map(long(fn, "to_snapshot", _)))
  }

  /** A call's arguments by parameter name: the first positional one is
    * `path`, later ones take `params` in order; `name => value` takes any
    * of `params`.
    */
  private def bind(fn: String, args: Seq[Expression],
      params: Seq[String]): Map[String, Expression] = {
    val (named, positional) = args.partitionMap {
      case NamedArgumentExpression(k, v) => Left(k.toLowerCase(Locale.ROOT) -> v)
      case e => Right(e)
    }
    val all = "path" +: params
    if (positional.length > all.length)
      throw usage(fn, s"too many arguments; it takes ${all.mkString("(", ", ", ")")}")
    named.collectFirst { case (k, _) if !params.contains(k) => k }.foreach(k =>
      throw usage(fn, s"unknown argument $k" +
        (if (params.isEmpty) "" else s" (expected ${params.mkString(", ")})")))
    val bound = all.zip(positional) ++ named
    bound.groupBy(_._1).collectFirst { case (k, vs) if vs.size > 1 => k }.foreach(k =>
      throw usage(fn, s"argument $k given twice"))
    bound.toMap
  }

  private def path(fn: String, a: Map[String, Expression]): String =
    string(fn, "the table path", a.getOrElse("path", throw usage(fn, "needs a table path")))

  private def string(fn: String, what: String, e: Expression): String = e match {
    case Literal(v, _: StringType) if v != null => v.toString
    case _ => throw usage(fn, s"$what must be a string literal")
  }

  private def long(fn: String, what: String, e: Expression): Long = e match {
    case Literal(v: Int, IntegerType) => v.toLong
    case Literal(v: Long, LongType) => v
    case _ => throw usage(fn, s"$what must be an integer literal")
  }

  private def usage(fn: String, problem: String) =
    new IllegalArgumentException(s"$fn: $problem")

  /** ISO instant, or local "yyyy-MM-dd[ HH:mm:ss]" taken as UTC. */
  private def parseTravelTimestamp(s: String): Long =
    scala.util.Try(java.time.Instant.parse(s).toEpochMilli).getOrElse {
      val norm = if (s.contains(" ")) s.replace(" ", "T") else s
      val withTime = if (norm.contains("T")) norm else norm + "T00:00:00"
      java.time.LocalDateTime.parse(withTime)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }

  /** The one form the flat-file readers take: a single string-literal
    * path. Anything else gets this message rather than Spark's.
    */
  private def flatFilePath(fn: String, args: Seq[Expression]): String = args match {
    case Seq(Literal(v, _: StringType)) if v != null => v.toString
    case _ => throw usage(fn, "only the single-quoted-path form is supported " +
      s"(e.g. $fn('/path/to/file')); named options, path lists, and computed " +
      "paths are not")
  }

  /** Opt-in gate for the flat-file readers (read_csv/read_json and plain-
    * path read_parquet): unlike `iceberg_scan` — whose Iceberg/parquet
    * layout requirement bounds what it can exfiltrate — these read ANY
    * text file the gateway process can open, through an endpoint that is
    * unauthenticated and serves CORS '*' (the reference's own trust model,
    * where DuckDB allows local reads by default — but a wider surface).
    * They are therefore DISABLED unless `-Dgraft.gateway.flatFileRoot=...`
    * (or env GRAFT_FLATFILE_ROOT) names the allowed root directories
    * (comma-separated path prefixes, compared after normalization so `..`
    * traversal cannot escape; `*` = no restriction, the reference's
    * behavior). Checked in the builder before any read.
    */
  private def flatFileRoots: Option[Seq[String]] =
    sys.props.get("graft.gateway.flatFileRoot")
      .orElse(sys.env.get("GRAFT_FLATFILE_ROOT"))
      .map(_.trim).filter(_.nonEmpty)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)

  private def checkFlatFilePath(fn: String, path: String): Unit = {
    val roots = flatFileRoots.getOrElse(throw new IllegalArgumentException(
      s"$fn is disabled: flat-file reads are gated off by default; start the " +
        "gateway with -Dgraft.gateway.flatFileRoot=<root[,root2]> (or " +
        "GRAFT_FLATFILE_ROOT; '*' for no restriction) to enable them"))
    if (!roots.contains("*")) {
      // Lexical normalization blocks `..` traversal but not symlinks: a
      // link under an allowed root pointing outside it would pass a purely
      // lexical prefix test. When the path exists on this filesystem,
      // resolve it (and each root) to its canonical form first; glob
      // patterns and not-yet-existing paths fall back to the lexical
      // check, which is still `..`-safe.
      def canonical(p: String): String =
        try {
          val jp = java.nio.file.Paths.get(p)
          if (java.nio.file.Files.exists(jp)) jp.toRealPath().toString
          else jp.normalize().toString
        } catch { case _: Exception => p }
      val norm = canonical(path)
      val allowed = roots.exists { r =>
        val rn = canonical(r)
        // Exact match or a "/"-separated descendant — a plain prefix test
        // would let /data-evil slip past an allowed root of /data.
        norm == rn || norm.startsWith(rn + "/")
      }
      if (!allowed) throw new IllegalArgumentException(
        s"$fn path '$path' is outside the allowed flat-file roots")
    }
  }
}
