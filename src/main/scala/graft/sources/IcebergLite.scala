package graft.sources

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

import org.apache.avro.file.DataFileStream
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gateway.{JValue, Json}
import graft.gateway.JValue.{JNum, JObj, JStr}

/** Table metadata descriptor (the reference's `TableInfo`,
  * /root/reference/backend/main.py:244-259). Snapshot ids are stringified
  * at this edge — they are 64-bit and would lose precision in JS
  * (main.py:489-490).
  */
final case class TableInfo(
    path: String,
    suggestedQuery: String,
    format: Option[String] = None,
    rows: Option[Long] = None,
    files: Option[Long] = None,
    hasDeletes: Option[Boolean] = None,
    snapshotId: Option[String] = None,
    lastSnapshotAt: Option[String] = None)

/** Minimal catalog-less Iceberg table reader built on the public Iceberg
  * table spec (iceberg.apache.org/spec): latest metadata JSON file under
  * the table's metadata dir -> current snapshot -> manifest list (Avro) ->
  * manifests (Avro) -> data file paths, scanned with Spark's vectorized
  * parquet reader.
  *
  * This is the engine's `iceberg_scan(path)` backend (the reference
  * delegates to DuckDB's iceberg extension; no Iceberg Spark runtime jar
  * ships in this build, so the metadata chain is read directly). Avro
  * records are decoded against each file's embedded writer schema and
  * fields accessed by spec name, so both this engine's fixture writer and
  * real Iceberg writers are readable.
  *
  * Scale note: metadata-chain reads are driver-side and proportional to
  * manifest count, not data size; the data scan itself is a standard
  * distributed parquet scan with pushdown/pruning intact.
  */
object IcebergLite {

  final case class ManifestInfo(path: String, content: Int)
  final case class FileEntry(
      path: String, fileContent: Int, recordCount: Long, status: Int,
      manifestContent: Int, fileSize: Long = 0L,
      partitionValues: Map[String, String] = Map.empty,
      lowerBounds: Map[String, String] = Map.empty,
      upperBounds: Map[String, String] = Map.empty,
      nullCounts: Map[String, Long] = Map.empty)

  final case class ProbeError(message: String) extends RuntimeException(message)

  /** The SESSION's Hadoop view: the shared SparkContext configuration
    * overlaid with this session's conf entries — the same merge Spark's
    * own `SessionState.newHadoopConf` applies on the file-source data
    * path: every session entry is copied VERBATIM (`fs.s3a.*` keys land
    * as themselves; a `spark.hadoop.` prefix is NOT stripped at this
    * layer — that happens only for the static SparkConf at SparkContext
    * startup). Reading metadata through this (instead of the
    * process-global `sparkContext.hadoopConfiguration`) is what makes
    * per-request credentials (Engine.applyStorageSettings) actually
    * isolate: two concurrent sessions with different credentials for the
    * SAME bucket each resolve their own, and neither mutates global
    * state.
    */
  def sessionHadoopConf(spark: SparkSession): Configuration =
    // Delegate to Spark's own merge so the metadata path and the parquet
    // data path can never diverge. sessionState is private[sql] (public
    // in bytecode) — reflection, with the equivalent manual merge as the
    // fallback; EngineSpec pins that both see per-session overrides.
    try {
      val ss = spark.getClass.getMethod("sessionState").invoke(spark)
      ss.getClass.getMethod("newHadoopConf").invoke(ss).asInstanceOf[Configuration]
    } catch {
      case scala.util.control.NonFatal(_) =>
        val merged = new Configuration(spark.sparkContext.hadoopConfiguration)
        spark.conf.getAll.foreach { case (k, v) => if (v != null) merged.set(k, v) }
        merged
    }

  private def fs(p: Path, conf: Configuration): FileSystem = p.getFileSystem(conf)

  /** Latest metadata JSON by filename order — correct for both pyiceberg's
    * `NNNNN-<uuid>.metadata.json` and Spark's `vN.metadata.json` naming
    * (the reference pins the same trick, main.py:477-480).
    */
  def latestMetadataPath(conf: Configuration, tablePath: String): Option[Path] =
    latestMetadataStatus(conf, tablePath).map(_.getPath)

  private def latestMetadataStatus(conf: Configuration, tablePath: String): Option[FileStatus] = {
    val glob = new Path(s"$tablePath/metadata/*.metadata.json")
    val statuses = Try(fs(glob, conf).globStatus(glob)).toOption
      .flatMap(Option(_)).getOrElse(Array.empty)
    statuses.sortBy(_.getPath.getName).lastOption
  }

  def readMetadataJson(conf: Configuration, p: Path): JObj = {
    val in = fs(p, conf).open(p)
    try {
      val bytes = org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
      Json.parse(new String(bytes, "UTF-8")) match {
        case o: JObj => o
        case _ => throw ProbeError(s"Metadata JSON at $p is not an object")
      }
    } finally in.close()
  }

  /** Source-byte bound of [[metadataCache]]: a few thousand manifests. */
  val MetadataCacheBytes: Long = 64L << 20

  /** Parsed metadata JSON, manifest lists and manifests by path, shared by
    * every session of the process. All three are write-once files (see
    * [[SourceCache]]).
    */
  private[sources] val metadataCache = new SourceCache(MetadataCacheBytes)

  /** The metadata JSON a read plans against, resolved ONCE per read and
    * then handed to every planning step: an explicit location (e.g. from
    * a REST catalog's LoadTableResult) wins over the directory listing.
    *
    * The listing — or, for an explicit location, a status call — runs on
    * every read under the caller's own configuration, so a new commit is
    * seen at once and a caller without access is refused; only the parse
    * of the write-once file comes from [[metadataCache]]. Its length and
    * modification time join the cache key, because `vN.metadata.json`
    * names repeat when a table is dropped and re-created at one path.
    */
  def resolveMetadata(conf: Configuration, tablePath: String,
      metadataLocation: Option[String] = None): JObj = {
    val status = metadataLocation match {
      case Some(loc) =>
        val p = new Path(loc)
        fs(p, conf).getFileStatus(p)
      case None => latestMetadataStatus(conf, tablePath)
          .getOrElse(throw ProbeError(s"No Iceberg metadata readable at $tablePath"))
    }
    val p = status.getPath
    metadataCache.getOrLoad(s"$p@${status.getLen}:${status.getModificationTime}") {
      (readMetadataJson(conf, p), status.getLen)
    }
  }

  private def jLong(o: JObj, key: String): Option[Long] =
    o.get(key).collect { case JNum(n) => n.toLong }

  /** Every record of an Avro container file, decoded with its writer
    * schema. Manifest lists and manifests are write-once, so the decoded
    * records are cached by path and shared read-only across threads.
    */
  private def readAvro(conf: Configuration, p: Path): IndexedSeq[GenericRecord] =
    metadataCache.getOrLoad(p.toString) {
      val in = fs(p, conf).open(p)
      val bytes = try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in) finally in.close()
      val stream = new DataFileStream[GenericRecord](
        new java.io.ByteArrayInputStream(bytes), new GenericDatumReader[GenericRecord]())
      try {
        val out = ArrayBuffer.empty[GenericRecord]
        while (stream.hasNext) out += stream.next()
        (out.toIndexedSeq, bytes.length.toLong)
      } finally stream.close()
    }

  private def fieldLong(r: GenericRecord, name: String, default: Long = 0L): Long =
    Option(r.getSchema.getField(name)).flatMap(_ => Option(r.get(name))) match {
      case Some(v: Number) => v.longValue()
      case _ => default
    }

  private def fieldStr(r: GenericRecord, name: String): Option[String] =
    Option(r.getSchema.getField(name)).flatMap(_ => Option(r.get(name))).map(_.toString)

  private def fieldStrMap(r: GenericRecord, name: String): Map[String, String] =
    Option(r.getSchema.getField(name)).flatMap(_ => Option(r.get(name))) match {
      case Some(m: java.util.Map[_, _]) =>
        import scala.jdk.CollectionConverters._
        m.asScala.map { case (k, v) => k.toString -> v.toString }.toMap
      case _ => Map.empty
    }

  private def fieldLongMap(r: GenericRecord, name: String): Map[String, Long] =
    Option(r.getSchema.getField(name)).flatMap(_ => Option(r.get(name))) match {
      case Some(m: java.util.Map[_, _]) =>
        import scala.jdk.CollectionConverters._
        m.asScala.collect { case (k, v: java.lang.Number) => k.toString -> v.longValue() }.toMap
      case _ => Map.empty
    }

  /** Manifest list of the selected snapshot (default: current). The
    * `snapshotId` override is the time-travel entry point — the analog of
    * `VERSION AS OF` (the reference documents "time travel via snapshots"
    * as part of its capability surface, reference README.md:197).
    */
  def currentManifests(conf: Configuration, tablePath: String, meta: JObj,
      snapshotId: Option[Long] = None): Seq[ManifestInfo] = {
    val snapId = snapshotId.orElse(jLong(meta, "current-snapshot-id"))
      .getOrElse(throw ProbeError("metadata has no current-snapshot-id"))
    val snapshots = meta.get("snapshots") match {
      case Some(JValue.JArr(items)) => items.collect { case o: JObj => o }
      case _ => Vector.empty
    }
    val snap = snapshots.find(s => jLong(s, "snapshot-id").contains(snapId))
      .getOrElse(throw ProbeError(s"snapshot $snapId not found in metadata"))
    val mlPath = snap.str("manifest-list")
      .getOrElse(throw ProbeError("snapshot has no manifest-list"))
    readAvro(conf, new Path(mlPath)).map { r =>
      ManifestInfo(
        path = fieldStr(r, "manifest_path").getOrElse(
          throw ProbeError("manifest list entry missing manifest_path")),
        content = fieldLong(r, "content", 0L).toInt)
    }
  }

  /** Fixed daemon pool for manifest fan-out: scan *planning* reads one Avro
    * file per manifest, and a large table carries thousands of manifests —
    * serial driver-side reads would make planning the bottleneck long
    * before the distributed data scan starts (Iceberg's own planner
    * parallelizes this the same way).
    */
  private lazy val manifestPool = java.util.concurrent.Executors.newFixedThreadPool(
    8,
    (r: Runnable) => {
      val t = new Thread(r, "graft-manifest-read")
      t.setDaemon(true)
      t
    })

  /** All live file entries of the selected snapshot (status 2 = deleted
    * entries are dropped, matching an Iceberg planner's view). Manifests
    * are fetched concurrently; entry order stays deterministic (manifest
    * list order, then entry order within each manifest).
    */
  def fileEntries(conf: Configuration, tablePath: String,
      snapshotId: Option[Long] = None,
      metadataLocation: Option[String] = None): Seq[FileEntry] =
    fileEntriesOf(conf, tablePath, resolveMetadata(conf, tablePath, metadataLocation), snapshotId)

  /** [[fileEntries]] planned against already-resolved metadata. */
  private def fileEntriesOf(conf: Configuration, tablePath: String, meta: JObj,
      snapshotId: Option[Long]): Seq[FileEntry] = {
    val manifests = currentManifests(conf, tablePath, meta, snapshotId)
    def entriesOf(m: ManifestInfo): Seq[FileEntry] =
      readAvro(conf, new Path(m.path)).flatMap { entry =>
        val status = fieldLong(entry, "status", 1L).toInt
        Option(entry.get("data_file")).collect { case df: GenericRecord =>
          FileEntry(
            path = fieldStr(df, "file_path").getOrElse(
              throw ProbeError("manifest entry missing file_path")),
            fileContent = fieldLong(df, "content", 0L).toInt,
            recordCount = fieldLong(df, "record_count", 0L),
            status = status,
            manifestContent = m.content,
            fileSize = fieldLong(df, "file_size_in_bytes", 0L),
            partitionValues = fieldStrMap(df, "partition"),
            lowerBounds = fieldStrMap(df, "lower_bounds"),
            upperBounds = fieldStrMap(df, "upper_bounds"),
            nullCounts = fieldLongMap(df, "null_value_counts"))
        }
      }.filter(_.status != 2)
    if (manifests.lengthCompare(2) < 0) manifests.flatMap(entriesOf)
    else {
      val futures = manifests.map(m =>
        manifestPool.submit(new java.util.concurrent.Callable[Seq[FileEntry]] {
          def call(): Seq[FileEntry] = entriesOf(m)
        }))
      try futures.flatMap(_.get())
      catch {
        // Surface the planner's own error, not the executor wrapper.
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      }
    }
  }

  /** All data-file paths referenced by one manifest, regardless of entry
    * status — snapshot expiration must treat history-only (status 2)
    * references from retained snapshots as still reachable.
    */
  private[sources] def manifestFilePaths(conf: Configuration,
      manifestPath: String): Seq[String] =
    readAvro(conf, new Path(manifestPath)).flatMap { entry =>
      Option(entry.get("data_file")).collect { case df: GenericRecord =>
        fieldStr(df, "file_path")
      }.flatten
    }

  /** All partition-spec fields of the default spec (identity AND hidden
    * transforms). `source-name` is the lite format's direct source link
    * (older lite tables without it fall back to the field name, which is
    * the identity-transform source anyway).
    */
  def partitionSpecFields(meta: JObj): Seq[PartitionField] =
    meta.get("partition-specs") match {
      case Some(JValue.JArr(specs)) =>
        val defaultId = jLong(meta, "default-spec-id").getOrElse(0L)
        specs.collect { case o: JObj => o }
          .find(s => jLong(s, "spec-id").contains(defaultId))
          .toSeq.flatMap(_.get("fields")).flatMap {
            case JValue.JArr(fs) => fs.collect {
              case f: JObj =>
                for (n <- f.str("name"); t <- f.str("transform"))
                  yield PartitionField(n, t, f.str("source-name").getOrElse(n))
            }.flatten
            case _ => Nil
          }
      case _ => Nil
    }

  /** The default spec as writer-DSL strings — what appends and metadata
    * rewrites (compaction, rollback, expiration) re-feed so hidden
    * transform fields survive every metadata-carrying commit.
    */
  def partitionSpecDsl(meta: JObj): Seq[String] =
    partitionSpecFields(meta).map(PartitionSpec.toDsl)

  /** Identity-transform partition column names of the default spec (the
    * ones that surface as table partition COLUMNS; hidden transform
    * fields stay out of the schema).
    */
  def partitionColumns(meta: JObj): Seq[String] =
    partitionSpecFields(meta).collect {
      case f if f.transform == "identity" => f.name
    }

  /** Declared fields of the current schema: (name, iceberg type name). */
  def currentSchemaFields(meta: JObj): Option[Seq[(String, String)]] =
    meta.get("schemas").flatMap {
      case JValue.JArr(schemas) =>
        val id = jLong(meta, "current-schema-id").getOrElse(0L)
        schemas.collect { case o: JObj => o }
          .find(s => jLong(s, "schema-id").contains(id))
          .flatMap(_.get("fields")).map {
            case JValue.JArr(fs) => fs.collect { case f: JObj =>
              f.str("name").getOrElse("") -> f.str("type").getOrElse("")
            }
            case _ => Nil
          }
      case _ => None
    }.filter(_.nonEmpty)

  /** Declared fields with ids: (field id, name, iceberg type name). */
  def currentSchemaFieldIds(meta: JObj): Option[Seq[(Long, String, String)]] =
    meta.get("schemas").flatMap {
      case JValue.JArr(schemas) =>
        val id = jLong(meta, "current-schema-id").getOrElse(0L)
        schemas.collect { case o: JObj => o }
          .find(s => jLong(s, "schema-id").contains(id))
          .flatMap(_.get("fields")).map {
            case JValue.JArr(fs) => fs.collect { case f: JObj =>
              (jLong(f, "id").getOrElse(-1L),
                f.str("name").getOrElse(""),
                f.str("type").getOrElse(""))
            }
            case _ => Nil
          }
      case _ => None
    }.filter(fs => fs.nonEmpty && fs.forall(_._1 >= 0))

  /** `parquet.field.id` -> column name from one data file's footer (cached:
    * Iceberg data files are immutable). Empty when the writer embedded no
    * field ids.
    */
  private val fieldIdCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[Long, String]]()

  private def parquetFieldIds(conf: Configuration, path: String): Map[Long, String] =
    fieldIdCache.computeIfAbsent(path, p => {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(p), conf))
      try {
        import scala.jdk.CollectionConverters._
        reader.getFooter.getFileMetaData.getSchema.getFields.asScala
          .flatMap(t => Option(t.getId).map(id => id.intValue().toLong -> t.getName))
          .toMap
      } finally reader.close()
    })

  /** Field-id projection for evolved tables: when the declared schema and
    * the data files disagree by NAME, a real Iceberg reader projects by
    * field id. Returns the (physical -> declared) rename list when every
    * declared data column's id resolves to a physical column of the same
    * type AND every physical column is claimed; None otherwise (dropped
    * columns / type changes / files without field ids stay refused).
    */
  private def fieldIdRenames(
      conf: Configuration,
      headPath: String,
      fileSchema: org.apache.spark.sql.types.StructType,
      declaredIds: Seq[(Long, String, String)],
      partCols: Seq[String]): Option[Seq[(String, String)]] = {
    val physIds = parquetFieldIds(conf, headPath)
    if (physIds.isEmpty) return None
    val physTypes = fileSchema.fields.map(f => f.name -> f.dataType).toMap
    val resolved = declaredIds
      .filterNot { case (_, n, _) => partCols.contains(n) }
      .map { case (id, name, tpe) =>
        for {
          phys <- physIds.get(id)
          physType <- physTypes.get(phys)
          // The declared type MUST resolve and match: with Option.forall a
          // declared type outside the mapping (decimal, uuid, nested, ...)
          // would be trusted unverified, letting a type change on such a
          // column scan silently wrong instead of staying refused.
          declType <- icebergToSparkType(tpe)
          if declType == physType
        } yield phys -> name
      }
    if (resolved.exists(_.isEmpty)) None
    else {
      val renames = resolved.flatten
      val claimed = renames.map(_._1).toSet
      if (fileSchema.fieldNames.exists(n => !claimed.contains(n))) None
      else Some(renames)
    }
  }

  /** Re-render the current schema's `fields` JSON (writer carry-forward). */
  def currentSchemaFieldsJson(meta: JObj): Option[String] =
    meta.get("schemas").flatMap {
      case JValue.JArr(schemas) =>
        val id = jLong(meta, "current-schema-id").getOrElse(0L)
        schemas.collect { case o: JObj => o }
          .find(s => jLong(s, "schema-id").contains(id))
          .flatMap(_.get("fields")).map(Json.render)
      case _ => None
    }

  private val DecimalTypeRe = """decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)""".r

  private def icebergToSparkType(name: String): Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    name match {
      case "long" => Some(LongType)
      case "int" => Some(IntegerType)
      case "double" => Some(DoubleType)
      case "float" => Some(FloatType)
      case "string" => Some(StringType)
      case "boolean" => Some(BooleanType)
      case "date" => Some(DateType)
      case "timestamptz" | "timestamp" => Some(TimestampType)
      case "binary" => Some(BinaryType)
      case DecimalTypeRe(p, s) => Some(DecimalType(p.toInt, s.toInt))
      // Iceberg uuid is parquet fixed[16]; Spark surfaces it as binary.
      case "uuid" => Some(BinaryType)
      case _ => None // nested/list/map/time: field-id projection refuses, loudly
    }
  }

  /** Latest snapshot committed at or before `tsMillis` — `TIMESTAMP AS OF`
    * resolution over the snapshot log's timestamp-ms (reference capability
    * "time travel via snapshots", README.md:197).
    */
  def snapshotIdAsOf(conf: Configuration, tablePath: String, tsMillis: Long): Long =
    snapshotIdAsOfMeta(resolveMetadata(conf, tablePath), tsMillis, tablePath)

  private def snapshotIdAsOfMeta(meta: JObj, tsMillis: Long, tablePath: String): Long = {
    val snaps = meta.get("snapshots") match {
      case Some(JValue.JArr(items)) => items.collect { case o: JObj => o }
      case _ => Vector.empty
    }
    val eligible = snaps.flatMap(s =>
      for (id <- jLong(s, "snapshot-id"); ts <- jLong(s, "timestamp-ms") if ts <= tsMillis)
        yield (ts, id))
    if (eligible.isEmpty)
      throw ProbeError(
        s"No snapshot at or before timestamp $tsMillis in table at $tablePath")
    eligible.maxBy(_._1)._2
  }

  /** Footer schema per data-file path (Iceberg data files are immutable,
    * so a path keys identical content for the process lifetime).
    */
  private val footerSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Scan the selected snapshot as a DataFrame.
    *
    * The listing goes through [[IcebergLiteFileIndex]], so partition
    * filters and data filters prune files from the manifests' partition
    * tuples and column bounds at plan time — a filtered `iceberg_scan` at
    * 100 TB schedules tasks only for the files that can match.
    *
    * Row-level deletes: by default NOT applied — callers must run
    * [[assertNoDeletes]] first (the engine rejects tables with row-level
    * deletes rather than silently returning removed rows, matching the
    * reference's guard, main.py:391-423). With `applyDeletes = true`,
    * both kinds merge on read: position deletes as an anti-join on
    * (file_path, row position) via the parquet `_metadata` columns, and
    * equality deletes as broadcast anti-joins on each delete file's
    * column set, scoped to data files committed before the delete's
    * snapshot (Iceberg's sequence-number rule, resolved metadata-only).
    */
  def scan(spark: SparkSession, tablePath: String,
      snapshotId: Option[Long] = None,
      asOfMillis: Option[Long] = None,
      applyDeletes: Boolean = false,
      metadataLocation: Option[String] = None,
      excludeDataFiles: Set[String] = Set.empty,
      ref: Option[String] = None): DataFrame = {
    val conf = sessionHadoopConf(spark)
    scanMeta(spark, conf, tablePath, resolveMetadata(conf, tablePath, metadataLocation),
      snapshotId, asOfMillis, applyDeletes, excludeDataFiles, ref)
  }

  /** [[scan]] planned against already-resolved metadata. */
  private def scanMeta(spark: SparkSession, conf: Configuration, tablePath: String,
      meta: JObj, snapshotId: Option[Long], asOfMillis: Option[Long],
      applyDeletes: Boolean, excludeDataFiles: Set[String],
      ref: Option[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    // Named ref (tag/branch): resolve to its pinned snapshot; 'main' is
    // the current snapshot (a plain scan).
    val refSnapId: Option[Long] = ref.filterNot(_ == "main").map { name =>
      refsOf(meta).collectFirst { case (`name`, id, _) => id }
        .getOrElse(throw ProbeError(
          s"ref '$name' not found at $tablePath (known: " +
            (refsOf(meta).map(_._1) :+ "main").mkString(", ") + ")"))
    }
    val snapId = snapshotId.orElse(refSnapId).orElse(asOfMillis.map(ts =>
      snapshotIdAsOfMeta(meta, ts, tablePath)))
    val entries = fileEntriesOf(conf, tablePath, meta, snapId)
    // allData drives schema/partition-type derivation; dataEntries (the
    // possibly-excluded subset, used by incrementalScan) drives the file
    // index — an empty INCREMENT over a non-empty table is a valid empty
    // scan with the table's real schema.
    val allData = entries.filter(e => e.manifestContent == 0 && e.fileContent == 0)
    if (allData.isEmpty)
      throw ProbeError(s"No data files in Iceberg table at $tablePath")
    val dataEntries = allData.filterNot(e => excludeDataFiles.contains(e.path))

    val partCols = partitionColumns(meta)
    val declared = currentSchemaFields(meta)

    // Physical file schema from one footer; the vectorized reader applies
    // it to every file (schema guard below refuses drifted tables). Cached
    // per head-file path — a path names immutable content in Iceberg, and
    // re-reading a footer per scan() call is planning overhead at scale.
    val fileSchema = footerSchemaCache.computeIfAbsent(
      allData.head.path, p => spark.read.parquet(p).schema)

    // Schema-evolution guard: if the metadata declares a schema and the
    // file columns disagree by name, try field-id projection (renamed
    // columns read correctly, like a real Iceberg reader); if ids can't
    // account for every column — dropped columns, type changes, or files
    // without embedded field ids — refuse rather than scan silently wrong.
    var renames: Seq[(String, String)] = Nil
    declared.foreach { fields =>
      val declaredData = fields.map(_._1).filterNot(partCols.contains)
      val physical = fileSchema.fieldNames.toSeq
      val missing = declaredData.filterNot(physical.contains)
      val extra = physical.filterNot(declaredData.contains)
      if (missing.nonEmpty || extra.nonEmpty) {
        val declaredFieldIds = currentSchemaFieldIds(meta)
        val byId = declaredFieldIds.flatMap(ids =>
          fieldIdRenames(conf, allData.head.path, fileSchema, ids, partCols))
        byId match {
          case Some(rs) => renames = rs.filter { case (p, d) => p != d }
          case None =>
            val unmapped = declaredFieldIds.toSeq.flatten.collect {
              case (_, n, t) if icebergToSparkType(t).isEmpty => s"$n:$t"
            }
            val unmappedNote =
              if (unmapped.isEmpty) ""
              else s"; declared types outside the reader's mapping: ${unmapped.mkString(",")}"
            throw ProbeError(
              s"Schema mismatch between Iceberg metadata and data files at $tablePath " +
                s"(declared-but-absent: ${missing.mkString(",")}; " +
                s"present-but-undeclared: ${extra.mkString(",")}) and field-id " +
                "projection cannot reconcile them (dropped column, changed type, " +
                "or data files without field ids), so the scan is refused rather " +
                s"than silently wrong$unmappedNote.")
        }
      }
    }

    val declaredTypes: Map[String, DataType] = declared.toSeq.flatten
      .flatMap { case (n, t) => icebergToSparkType(t).map(n -> _) }.toMap
    // Partition column types: declared schema first, else inferred from the
    // partition value strings (all-long -> long, all-double -> double).
    val partitionSchema = StructType(partCols.map { c =>
      val dt = declaredTypes.getOrElse(c, inferPartitionType(allData.flatMap(_.partitionValues.get(c))))
      StructField(c, dt, nullable = true)
    })

    val liteFiles = dataEntries.map(e => LiteDataFile(
      e.path, e.fileSize, e.recordCount, e.partitionValues,
      e.lowerBounds, e.upperBounds, e.nullCounts))
    val statTypes = fileSchema.fields.map(f => f.name -> f.dataType).toMap
    // Hidden transform fields (day/bucket) never surface as table columns;
    // they reach the index so source-column predicates can be projected
    // through the transform onto the files' partition values.
    val hiddenFields = partitionSpecFields(meta).filter(_.transform != "identity")
    val index = new IcebergLiteFileIndex(
      spark, new Path(tablePath), liteFiles, partitionSchema, statTypes,
      hiddenFields)
    val relation = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      index, partitionSchema, fileSchema, None,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
      Map.empty)(spark)
    val base = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(relation)

    // Merge-on-read applies BOTH delete kinds. Without the opt-in, a
    // delete-carrying LISTING is refused HERE, not just in
    // [[assertNoDeletes]]: the scaladoc's "callers must guard first" was
    // a convention, and the gateway's iceberg_scan('<path>') table
    // function (gateway.TableFunctions) — a caller the connection-level
    // guard never sees — could silently
    // return removed rows (r11 fix; mirrors the reference's guard,
    // main.py:398-414). Per-SNAPSHOT, so time travel to a pre-delete
    // snapshot still reads cleanly while the current one is blocked.
    val posDeleteFiles = entries.filter(e => e.fileContent == 1 && e.status != 2).map(_.path)
    val eqDeleteEntries = entries.filter(e => e.fileContent == 2 && e.status != 2)
    if (!applyDeletes && (posDeleteFiles.nonEmpty || eqDeleteEntries.nonEmpty))
      throw DeleteGuardError(DeleteGuardMessage)
    val needDeletes = applyDeletes && (posDeleteFiles.nonEmpty || eqDeleteEntries.nonEmpty)
    val withFp = if (needDeletes) base.withColumn("__fp", col("_metadata.file_path")) else base
    // Position deletes: anti-join on (file path, row position). The delete
    // side is normally tiny next to the data side, so Spark broadcasts
    // it; at worst it is a shuffled anti-join keyed by file — no skew
    // (positions within a file are unique).
    val posApplied =
      if (!applyDeletes || posDeleteFiles.isEmpty) withFp
      else {
        val dels = spark.read.parquet(posDeleteFiles: _*)
          .select(col("file_path").as("__del_fp"), col("pos").as("__del_pos"))
        withFp
          .withColumn("__pos", col("_metadata.row_index"))
          .join(dels, col("__fp") === col("__del_fp") && col("__pos") === col("__del_pos"),
            "left_anti")
          .drop("__pos")
      }
    // Equality deletes: per the Iceberg spec, the delete parquet's schema
    // IS the equality column set, and the delete applies only to data
    // files committed in snapshots strictly BEFORE its own. The lite
    // format has no per-entry sequence numbers, so scope is resolved the
    // metadata-only way: the delete file's commit snapshot (in its name)
    // is re-listed, and only data files present THEN are eligible — rows
    // appended after the delete survive, exactly as sequence numbers
    // would arrange. Each delete becomes one broadcast anti-join with the
    // scope as a residual predicate on the scanned file path; unknown
    // equality columns or an unresolvable commit snapshot refuse the scan
    // rather than resurrect deleted rows.
    val eqApplied =
      if (!applyDeletes || eqDeleteEntries.isEmpty) posApplied
      else {
        val declaredToPhysical = renames.map { case (p, d) => d -> p }.toMap
        val snapRe = "delete-([0-9]+)\\.parquet$".r
        // Scope listings are memoized per distinct delete snapshot: D
        // deletes cost at most D extra metadata listings (driver-side,
        // manifest-proportional), and deletes committed in one snapshot
        // share one. "Strictly before" resolves to the listing at the
        // delete snapshot's PARENT — so a data file committed in the
        // SAME snapshot as the delete (the atomic upsert shape) is out
        // of scope, exactly as Iceberg's sequence numbers arrange, while
        // a delete-only commit scopes identically to its parent listing.
        // The scope itself is metadata-sized, which is also the bound on
        // the isin literal below.
        val snapObjs = meta.get("snapshots") match {
          case Some(JValue.JArr(items)) => items.collect { case o: JObj => o }
          case _ => Vector.empty
        }
        val scopeCache = scala.collection.mutable.Map.empty[Long, Seq[String]]
        eqDeleteEntries.foldLeft(posApplied) { (acc, e) =>
          val delSnap = snapRe.findFirstMatchIn(e.path).map(_.group(1).toLong)
            .getOrElse(throw ProbeError(
              s"Iceberg table at $tablePath has an equality-delete file whose " +
                s"commit snapshot cannot be resolved (${e.path}); refusing to " +
                "scan rather than mis-apply it."))
          // Scheme renderings differ between manifest paths ("file:/x") and
          // the scan's `_metadata.file_path` ("file:///x"): compare both
          // sides scheme-stripped.
          def normPath(p: String): String = p.replaceFirst("^[A-Za-z0-9]+:/+", "/")
          val scope = scopeCache.getOrElseUpdate(delSnap, {
            val delSnapObj = snapObjs.find(s => jLong(s, "snapshot-id").contains(delSnap))
              .getOrElse(throw ProbeError(
                s"Iceberg table at $tablePath carries an equality-delete file " +
                  s"from snapshot $delSnap, which this metadata no longer " +
                  "records; refusing to scan rather than mis-apply it."))
            jLong(delSnapObj, "parent-snapshot-id") match {
              case None => Nil // first snapshot: nothing strictly before
              case Some(parent) =>
                fileEntriesOf(conf, tablePath, meta, Some(parent))
                  .filter(x => x.manifestContent == 0 && x.fileContent == 0)
                  .map(x => normPath(x.path))
            }
          })
          val delRows = spark.read.parquet(e.path)
          val eqCols = delRows.columns.toSeq.map(c => c -> declaredToPhysical.getOrElse(c, c))
          val missing = eqCols.collect { case (d, p) if !acc.columns.contains(p) => d }
          if (missing.nonEmpty)
            throw ProbeError(
              s"Iceberg table at $tablePath carries an equality-delete file on " +
                s"columns (${delRows.columns.mkString(",")}) that are not all in " +
                "the data schema; skipping it would resurrect deleted rows, so " +
                "the scan is refused. Compact the table, then retry.")
          val delSel = delRows.select(eqCols.map { case (d, _) => col(d).as(s"__eq_$d") }: _*)
          // Null-safe equality on every delete-file column (Iceberg
          // equality deletes match nulls to nulls).
          val cond = eqCols.map { case (d, p) => col(p) <=> col(s"__eq_$d") }.reduce(_ && _)
          acc.join(org.apache.spark.sql.functions.broadcast(delSel),
            cond && org.apache.spark.sql.functions
              .regexp_replace(col("__fp"), "^[A-Za-z0-9]+:/+", "/")
              .isin(scope: _*), "left_anti")
        }
      }
    val merged = if (needDeletes) eqApplied.drop("__fp") else eqApplied
    // Field-id projection: physical file columns -> declared names. A
    // filter on a declared name pushes through this projection to the
    // physical attribute, so file pruning and parquet pushdown still apply.
    if (renames.isEmpty) merged
    else {
      val renameMap = renames.toMap
      merged.select(merged.columns.toIndexedSeq
        .map(c => col(c).as(renameMap.getOrElse(c, c))): _*)
    }
  }

  /** Incremental (snapshot-diff) read: rows in data files added strictly
    * AFTER `fromSnapshotId`, up to `toSnapshotId` (default: current) — the
    * batch complement of streaming: a scheduled pipeline processes only
    * what arrived since its last run, at any table size, because the
    * increment is a metadata diff (two file listings), never a data scan
    * of the history. An empty increment is a valid empty DataFrame with
    * the table's schema.
    *
    * Refuses ranges containing non-append snapshots: a REPLACE commit
    * (compaction) rewrites old rows into new files, and consuming those
    * as an increment would re-process data the consumer already saw.
    */
  def incrementalScan(spark: SparkSession, tablePath: String,
      fromSnapshotId: Long, toSnapshotId: Option[Long] = None): DataFrame = {
    val conf = sessionHadoopConf(spark)
    val meta = resolveMetadata(conf, tablePath)
    val snaps = meta.get("snapshots") match {
      case Some(JValue.JArr(items)) => items.collect { case o: JObj => o }
      case _ => Vector.empty
    }
    val ids = snaps.flatMap(jLong(_, "snapshot-id"))
    val fromIdx = ids.indexOf(fromSnapshotId)
    if (fromIdx < 0)
      throw ProbeError(s"snapshot $fromSnapshotId not found in the log at $tablePath")
    val toId = toSnapshotId.orElse(jLong(meta, "current-snapshot-id"))
      .getOrElse(throw ProbeError("metadata has no current-snapshot-id"))
    val toIdx = ids.indexOf(toId)
    if (toIdx < 0)
      throw ProbeError(s"snapshot $toId not found in the log at $tablePath")
    if (toIdx < fromIdx)
      throw ProbeError(s"snapshot $toId precedes $fromSnapshotId; an " +
        "incremental range must move forward in the snapshot log")
    val nonAppend = snaps.slice(fromIdx + 1, toIdx + 1).filter { s =>
      // Missing summary/operation is treated as non-append: foreign
      // writers must prove appends, or the consumer re-reads safely.
      !s.get("summary").collect { case o: JObj => o }
        .flatMap(_.str("operation")).contains("append")
    }
    if (nonAppend.nonEmpty)
      throw ProbeError(
        s"Incremental range ($fromSnapshotId, $toId] at $tablePath contains " +
          s"${nonAppend.size} non-append snapshot(s) (replace/overwrite — e.g. " +
          "compaction): their files rewrite history, not extend it. Re-read " +
          "from the table instead, or start after the rewrite.")
    val baseline = fileEntriesOf(conf, tablePath, meta, Some(fromSnapshotId))
      .filter(e => e.manifestContent == 0 && e.fileContent == 0)
      .map(_.path).toSet
    scanMeta(spark, conf, tablePath, meta, Some(toId), None, applyDeletes = false,
      baseline, None)
  }

  private def inferPartitionType(values: Seq[String]): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    val present = values.filter(_ != "__HIVE_DEFAULT_PARTITION__")
    if (present.nonEmpty && present.forall(v => scala.util.Try(v.toLong).isSuccess)) LongType
    else if (present.nonEmpty && present.forall(v => scala.util.Try(v.toDouble).isSuccess)) DoubleType
    else StringType
  }

  /** The `iceberg_metadata('path')` relation (the reference probes it at
    * main.py:503-512): one row per live file entry with its manifest
    * context — enough surface for the reference's documented
    * SUM(record_count) / COUNT(*) / delete-detection queries.
    */
  def metadataRelation(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    val conf = sessionHadoopConf(spark)
    fileEntries(conf, tablePath)
      .map(e => (
        e.path,
        if (e.manifestContent == 0) "DATA" else "DELETE",
        e.recordCount,
        if (e.fileContent == 0) "DATA"
        else if (e.fileContent == 1) "POSITION_DELETES"
        else "EQUALITY_DELETES",
        e.status.toLong))
      .toDF("file_path", "manifest_content", "record_count", "content", "status")
  }

  /** The `iceberg_snapshots('path')` relation (documented surface,
    * reference README.md:127-131): the table's snapshot log.
    */
  def snapshotsRelation(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    val conf = sessionHadoopConf(spark)
    val meta = resolveMetadata(conf, tablePath)
    val current = jLong(meta, "current-snapshot-id")
    val snaps = meta.get("snapshots") match {
      case Some(JValue.JArr(items)) => items.collect { case o: JObj => o }
      case _ => Vector.empty
    }
    snaps.map { s =>
      val id = jLong(s, "snapshot-id").getOrElse(0L)
      (id,
        jLong(s, "timestamp-ms").map(ms => new java.sql.Timestamp(ms)).orNull,
        s.str("manifest-list").getOrElse(""),
        current.contains(id))
    }.toDF("snapshot_id", "committed_at", "manifest_list", "is_current")
  }

  /** (name, snapshot-id, type) entries of the metadata's refs map. */
  def refsOf(meta: JObj): Seq[(String, Long, String)] =
    meta.get("refs") match {
      case Some(o: JObj) => o.fields.collect {
        case (name, r: JObj) =>
          (name, jLong(r, "snapshot-id").getOrElse(0L), r.str("type").getOrElse("tag"))
      }
      case _ => Nil
    }

  /** The `iceberg_refs('path')` relation — real Iceberg's `<table>.refs`
    * metadata table: every named ref (tag or branch) with its pinned
    * snapshot, plus the implicit `main` branch at the current snapshot.
    * Tags protect their snapshot from [[IcebergLiteWriter.expireSnapshots]].
    */
  def refsRelation(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    val conf = sessionHadoopConf(spark)
    val meta = resolveMetadata(conf, tablePath)
    val current = jLong(meta, "current-snapshot-id").getOrElse(0L)
    (("main", current, "branch") +: refsOf(meta))
      .map { case (n, id, t) => (n, t, id, id == current) }
      .toDF("ref_name", "type", "snapshot_id", "at_current")
  }

  /** The `iceberg_history('path')` relation — real Iceberg's
    * `<table>.history` metadata table: when each snapshot BECAME current
    * (the metadata's snapshot-log, so a rollback shows an old snapshot
    * re-currented at a later wall time — distinct from `snapshots`, which
    * lists commit times), its parent, and whether it is an ancestor of the
    * current snapshot (`is_current_ancestor` — the flag that separates the
    * table's live lineage from branches orphaned by rollbacks).
    * Log-less metadata (tables written before the log, or by minimal
    * writers) degrades to commit order.
    */
  def historyRelation(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    val conf = sessionHadoopConf(spark)
    val meta = resolveMetadata(conf, tablePath)
    val snaps = meta.get("snapshots") match {
      case Some(JValue.JArr(items)) => items.collect { case o: JObj => o }
      case _ => Vector.empty
    }
    val parentOf: Map[Long, Option[Long]] = snaps.flatMap { s =>
      jLong(s, "snapshot-id").map(id => id -> jLong(s, "parent-snapshot-id"))
    }.toMap
    // The current snapshot's ancestor chain (inclusive); bounded by the
    // snapshot count even if hostile metadata contains a parent cycle.
    val ancestors: Set[Long] = {
      val b = scala.collection.mutable.Set.empty[Long]
      var cur = jLong(meta, "current-snapshot-id")
      while (cur.exists(id => !b.contains(id) && parentOf.contains(id))) {
        b += cur.get
        cur = parentOf(cur.get)
      }
      cur.foreach(b += _)
      b.toSet
    }
    val log: Seq[(Long, Long)] = meta.get("snapshot-log") match {
      case Some(JValue.JArr(items)) => items.collect { case o: JObj =>
        (jLong(o, "timestamp-ms").getOrElse(0L), jLong(o, "snapshot-id").getOrElse(0L))
      }
      case _ => snaps.flatMap { s =>
        for (id <- jLong(s, "snapshot-id"); ts <- jLong(s, "timestamp-ms"))
          yield (ts, id)
      }
    }
    log.map { case (ts, id) =>
      (new java.sql.Timestamp(ts), id, parentOf.get(id).flatten,
        ancestors.contains(id))
    }.toDF("made_current_at", "snapshot_id", "parent_id", "is_current_ancestor")
  }

  /** The `iceberg_files('path')` relation — real Iceberg's `<table>.files`
    * metadata table (public spec surface the reference's probe SQL stops
    * short of): one row per live DATA file with its record count, byte
    * size, partition tuple, and per-column null counts (manifest field
    * ids resolved to current-schema column names). What an operator
    * inspects before deciding to [[IcebergLiteWriter.compact]].
    */
  def filesRelation(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    val conf = sessionHadoopConf(spark)
    val meta = resolveMetadata(conf, tablePath)
    val idToName: Map[String, String] = currentSchemaFieldIds(meta)
      .map(_.map { case (id, name, _) => id.toString -> name }.toMap)
      .getOrElse(Map.empty)
    fileEntriesOf(conf, tablePath, meta, None)
      .filter(_.fileContent == 0)
      .map(e => (
        e.path,
        e.recordCount,
        e.fileSize,
        e.partitionValues,
        e.nullCounts.map { case (k, v) => (idToName.getOrElse(k, k), v) }))
      .toDF("file_path", "record_count", "file_size_bytes", "partition",
        "null_value_counts")
  }

  /** The `iceberg_partitions('path')` relation — real Iceberg's
    * `<table>.partitions` metadata table: per-partition file/record/byte
    * rollups of the live data files. The small-file symptom
    * (reference README.md:232's "sluggish past ~10,000 files") reads
    * directly off file_count here.
    */
  def partitionsRelation(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    val conf = sessionHadoopConf(spark)
    fileEntries(conf, tablePath)
      .filter(_.fileContent == 0)
      .groupBy(_.partitionValues)
      .toSeq
      .map { case (part, es) =>
        (part, es.size.toLong, es.map(_.recordCount).sum, es.map(_.fileSize).sum)
      }
      .toDF("partition", "file_count", "record_count", "total_size_bytes")
  }

  /** True when the current snapshot carries any delete manifest/file. */
  def hasDeletes(conf: Configuration, tablePath: String): Boolean =
    currentManifests(conf, tablePath, resolveMetadata(conf, tablePath)).exists(_.content != 0)

  final case class DeleteGuardError(message: String) extends RuntimeException(message)

  private[sources] val DeleteGuardMessage: String =
    "Table has row-level deletes (position or equality). Reads would " +
      "return rows the Iceberg metadata has marked removed, so the " +
      "query is blocked rather than silently wrong. Compact the table " +
      "first — this gateway's POST /api/maintenance/compact applies " +
      "the deletes and rewrites the data files (start with " +
      "-Dgraft.gateway.maintenance=true to enable it) — then retry."

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Delete-guard (reference main.py:391-423): block queries over tables
    * with row-level deletes; a probe *failure* degrades to a logged
    * warning rather than blocking (main.py:421-423). The warning names
    * the path and the cause, never the connection's settings.
    */
  def assertNoDeletes(spark: SparkSession, tablePath: String): Unit =
    Try(hasDeletes(sessionHadoopConf(spark), tablePath)) match {
      case Success(true) =>
        throw DeleteGuardError(DeleteGuardMessage)
      case Success(false) => ()
      case Failure(e) =>
        val cause = Option(e.getMessage).flatMap(_.linesIterator.nextOption())
          .fold(e.getClass.getSimpleName)(m => s"${e.getClass.getSimpleName}: $m")
        log.warn(s"delete guard degraded for $tablePath: its metadata could not be " +
          s"read ($cause); the query proceeds unchecked")
    }

  /** Connection-probe metadata (reference `_probe_iceberg_table`,
    * main.py:452-526): the metadata-JSON sub-probe and the manifest
    * aggregate sub-probe degrade independently; both failing is an error.
    */
  def probe(spark: SparkSession, tablePath: String): TableInfo = {
    val conf = sessionHadoopConf(spark)
    var info = TableInfo(
      path = tablePath,
      suggestedQuery = s"SELECT * FROM iceberg_scan('$tablePath') LIMIT 10")
    var jsonOk = false
    var manifestOk = false

    // One resolution feeds both sub-probes; the manifest aggregate needs
    // the JSON, so it can only succeed where the JSON probe did.
    val metaOpt = Try(resolveMetadata(conf, tablePath)).toOption
    metaOpt.foreach { meta =>
      jsonOk = true
      info = info.copy(
        format = jLong(meta, "format-version").map(v => s"iceberg-v$v"),
        snapshotId = jLong(meta, "current-snapshot-id").map(_.toString),
        lastSnapshotAt = jLong(meta, "last-updated-ms").map(ms =>
          java.time.Instant.ofEpochMilli(ms).toString))
    }

    metaOpt.map(meta => Try(fileEntriesOf(conf, tablePath, meta, None))) match {
      case Some(Success(entries)) =>
        manifestOk = true
        info = info.copy(
          rows = Some(entries.filter(_.manifestContent == 0).map(_.recordCount).sum),
          files = Some(entries.length.toLong),
          hasDeletes = Some(entries.exists(_.manifestContent != 0)))
      case _ => ()
    }

    if (!jsonOk && !manifestOk)
      throw ProbeError(
        s"No Iceberg metadata readable at $tablePath — path may be wrong or credentials may lack access")
    info
  }
}
