package graft.sources

import java.util.UUID

import scala.collection.mutable

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types._

/** Writes a DataFrame as a minimal Iceberg-v2-shaped table (metadata JSON +
  * Avro manifest list + Avro manifest + parquet data files) so the probe /
  * delete-guard / iceberg_scan paths can be exercised end-to-end without an
  * Iceberg runtime — the Spark-side analog of the reference's demo seeding
  * script (/root/reference/scripts/upload_sample_data.py, which seeds a
  * table Hive-partitioned by decade/titleType). Field names follow the
  * public Iceberg table spec; this writer emits only the subset of fields
  * the IcebergLite reader (and the probe contract) consumes.
  *
  * Per-file statistics (record count, lower/upper bounds, null counts) are
  * lifted from the parquet footers — the same source a real Iceberg writer
  * uses — so the reader's file pruning has honest inputs and no per-file
  * Spark job runs at commit time.
  */
object IcebergLiteWriter {

  private val ManifestFileSchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |  {"name":"manifest_path","type":"string"},
      |  {"name":"manifest_length","type":"long"},
      |  {"name":"partition_spec_id","type":"int"},
      |  {"name":"content","type":"int","default":0},
      |  {"name":"added_snapshot_id","type":"long"}
      |]}""".stripMargin)

  // partition / bounds / null counts ride as string->string (or long) maps:
  // the reader types them against the table schema, so the Avro layer stays
  // schema-agnostic (real Iceberg binary-encodes bounds per field id; this
  // lite writer keeps the same information content in a readable encoding).
  private val ManifestEntrySchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |  {"name":"status","type":"int"},
      |  {"name":"snapshot_id","type":["null","long"],"default":null},
      |  {"name":"data_file","type":{"type":"record","name":"data_file","fields":[
      |    {"name":"content","type":"int","default":0},
      |    {"name":"file_path","type":"string"},
      |    {"name":"file_format","type":"string"},
      |    {"name":"record_count","type":"long"},
      |    {"name":"file_size_in_bytes","type":"long"},
      |    {"name":"partition","type":{"type":"map","values":"string"},"default":{}},
      |    {"name":"lower_bounds","type":{"type":"map","values":"string"},"default":{}},
      |    {"name":"upper_bounds","type":{"type":"map","values":"string"},"default":{}},
      |    {"name":"null_value_counts","type":{"type":"map","values":"long"},"default":{}}
      |  ]}}
      |]}""".stripMargin)

  private def writeAvro(conf: Configuration, p: Path, schema: Schema,
      records: Seq[GenericRecord]): Long = {
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    val writer = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    writer.create(schema, out)
    records.foreach(writer.append)
    writer.close()
    fs.getFileStatus(p).getLen
  }

  /** Write `df` as an Iceberg-lite table rooted at `tableDir`. When
    * `partitionBy` is set the data files land Hive-partitioned and the
    * metadata records an identity partition spec (the reader prunes on it).
    * When `withDeleteManifest` is set, an extra position-delete manifest is
    * added so the delete-guard path can be tested (metadata-only fixture).
    */
  def write(spark: SparkSession, df: DataFrame, tableDir: String,
      withDeleteManifest: Boolean = false,
      partitionBy: Seq[String] = Nil): Unit =
    commit(spark, df, tableDir, SaveMode.Overwrite, withDeleteManifest, partitionBy)

  /** Append `df` as a new snapshot: new data files + a new manifest, with
    * the previous snapshot's manifests carried forward and its entry kept
    * in the snapshot log — so time travel to the prior snapshot id works.
    */
  def append(spark: SparkSession, df: DataFrame, tableDir: String,
      partitionBy: Seq[String] = Nil): Unit =
    commit(spark, df, tableDir, SaveMode.Append, withDeleteManifest = false, partitionBy)

  /** Stamp each column with its declared Iceberg field id (ordinal, the
    * same assignment as schemaFieldsJson) so the parquet files carry
    * `parquet.field.id` like real Iceberg writers — the reader's
    * field-id-based projection of evolved (renamed) tables depends on it.
    * The session conf flip is restored afterwards: this writer must not
    * change how the caller's OTHER parquet writes behave.
    */
  private def writeStampedParquet(spark: SparkSession, df: DataFrame,
      dir: String, mode: SaveMode, partCols: Seq[String]): Unit = {
    val withIds = df.select(df.schema.fields.zipWithIndex.map { case (f, i) =>
      org.apache.spark.sql.functions.col(f.name).as(f.name,
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putLong("parquet.field.id", i + 1L).build())
    }.toIndexedSeq: _*)
    // Hidden partitioning: derive transform columns (day/bucket) just for
    // the write — partitionBy consumes them into Hive path segments, so
    // they never land INSIDE the parquet files; the table schema stays the
    // data schema, exactly like real Iceberg's hidden partition fields.
    val fields = partCols.map(PartitionSpec.parse)
    fields.filter(_.transform.startsWith("truncate[")).foreach { f =>
      val dt = df.schema.fields.find(_.name == f.source).map(_.dataType)
      require(dt.contains(org.apache.spark.sql.types.StringType),
        s"truncate(${f.source}) needs a STRING source column (Iceberg's " +
          s"numeric truncate is W*floor(v/W), not a string prefix — " +
          s"refused rather than silently wrong); got ${dt.getOrElse("missing column")}")
    }
    // A derived hidden field must never shadow a real data column:
    // withColumn would overwrite it and partitionBy would then consume it
    // — the user's data silently lost AND the table wedged (the declared
    // schema still lists the column the files no longer carry).
    fields.filter(_.transform != "identity").foreach { f =>
      require(!df.schema.fieldNames.contains(f.name),
        s"hidden partition field '${f.name}' (from ${PartitionSpec.toDsl(f)}) " +
          "collides with a data column of the same name; rename the column " +
          "or partition differently")
    }
    val fieldIdKey = "spark.sql.parquet.fieldId.write.enabled"
    val priorFieldId = spark.conf.getOption(fieldIdKey)
    val tzKey = "spark.sql.session.timeZone"
    val priorTz = spark.conf.getOption(tzKey)
    spark.conf.set(fieldIdKey, "true")
    // Time transforms are defined on UTC, as in real Iceberg: the derive
    // runs under a pinned UTC session so a writer in any timezone (or a
    // reader in a different one — the index projects literals in UTC too)
    // sees identical partition values. Stored timestamp DATA is an
    // instant (micros), unaffected by the session flip. The pin MUST
    // precede building `derived`: ResolveTimeZone stamps the session zone
    // into date_format at analysis time (withColumn), not at execution.
    spark.conf.set(tzKey, "UTC")
    try {
      val derived = fields.filter(_.transform != "identity").foldLeft(withIds) {
        (d, f) => d.withColumn(f.name, org.apache.spark.sql.functions.expr(
          PartitionSpec.deriveSql(f)))
      }
      val writer = derived.write.mode(mode)
      val names = fields.map(_.name)
      (if (names.nonEmpty) writer.partitionBy(names: _*) else writer).parquet(dir)
    } finally {
      priorFieldId match {
        case Some(v) => spark.conf.set(fieldIdKey, v)
        case None => spark.conf.unset(fieldIdKey)
      }
      priorTz match {
        case Some(v) => spark.conf.set(tzKey, v)
        case None => spark.conf.unset(tzKey)
      }
    }
  }

  /** File-footer statistics for one parquet data file. */
  private final case class FileStats(
      recordCount: Long,
      lower: Map[String, String],
      upper: Map[String, String],
      nullCounts: Map[String, Long])

  /** Lift record count + per-column min/max/null-count from the parquet
    * footer (row-group statistics merged across blocks). Columns whose
    * statistics are absent in any non-empty block are dropped — pruning
    * must only ever see bounds that hold for every row of the file.
    */
  private def footerStats(conf: Configuration, p: Path): FileStats = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    try {
      import scala.jdk.CollectionConverters._
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val recordCount = blocks.map(_.getRowCount).sum
      val lower = mutable.Map.empty[String, Any]
      val upper = mutable.Map.empty[String, Any]
      val nulls = mutable.Map.empty[String, Long]
      val broken = mutable.Set.empty[String]
      for (b <- blocks; c <- b.getColumns.asScala if c.getPath.size == 1) {
        val name = c.getPath.toDotString
        val stats = c.getStatistics
        val pt = c.getPrimitiveType
        // The reader's bound comparisons assume Catalyst's physical units:
        // timestamp micros and SIGNED integers. A NANOS/MILLIS timestamp
        // or unsigned-int annotation would make those comparisons silently
        // wrong (off by 1000x / sign-flipped), so such columns publish no
        // bounds at all — pruning must only ever see bounds it can trust.
        // (This writer's own files are always micros/signed; the guard is
        // for tables whose data files someone else wrote.)
        val unitMismatch = pt.getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit != LogicalTypeAnnotation.TimeUnit.MICROS
          case _: LogicalTypeAnnotation.TimeLogicalTypeAnnotation => true
          case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => !i.isSigned
          case _ => false
        }
        if (stats == null || !stats.isNumNullsSet || unitMismatch) broken += name
        else {
          nulls.update(name, nulls.getOrElse(name, 0L) + stats.getNumNulls)
          if (stats.hasNonNullValue) {
            val (mn, mx) = (decodeStat(pt.getPrimitiveTypeName, stats.genericGetMin),
              decodeStat(pt.getPrimitiveTypeName, stats.genericGetMax))
            (mn, mx) match {
              case (Some(a), Some(z)) =>
                lower.update(name, lower.get(name).map(statMin(_, a)).getOrElse(a))
                upper.update(name, upper.get(name).map(statMax(_, z)).getOrElse(z))
              case _ => broken += name
            }
          } else if (stats.getNumNulls < b.getRowCount) broken += name
          // all-null block: bounds of the file are unaffected
        }
      }
      broken.foreach { n => lower.remove(n); upper.remove(n); nulls.remove(n) }
      FileStats(recordCount,
        lower.map { case (k, v) => k -> v.toString }.toMap,
        upper.map { case (k, v) => k -> v.toString }.toMap,
        nulls.toMap)
    } finally reader.close()
  }

  private def decodeStat(t: PrimitiveTypeName, v: Any): Option[Any] = (t, v) match {
    case (PrimitiveTypeName.BINARY, b: Binary) => Some(b.toStringUsingUTF8)
    case (_, n: java.lang.Number) if t == PrimitiveTypeName.INT32 || t == PrimitiveTypeName.INT64 =>
      Some(n.longValue())
    case (_, n: java.lang.Number) if t == PrimitiveTypeName.FLOAT || t == PrimitiveTypeName.DOUBLE =>
      Some(n.doubleValue())
    case (PrimitiveTypeName.BOOLEAN, b: java.lang.Boolean) => Some(b.booleanValue())
    case _ => None // INT96 / FIXED / unknown: no bounds
  }

  private def statMin(a: Any, b: Any): Any = (a, b) match {
    case (x: Long, y: Long) => math.min(x, y)
    case (x: Double, y: Double) => math.min(x, y)
    case (x: String, y: String) => if (x <= y) x else y
    case (x: Boolean, y: Boolean) => x && y
    case _ => a
  }

  private def statMax(a: Any, b: Any): Any = (a, b) match {
    case (x: Long, y: Long) => math.max(x, y)
    case (x: Double, y: Double) => math.max(x, y)
    case (x: String, y: String) => if (x >= y) x else y
    case (x: Boolean, y: Boolean) => x || y
    case _ => a
  }

  /** Hive path segments `col=value` under data/ -> partition value map.
    * Decoding must be the exact inverse of Spark's escapePathName:
    * URLDecoder would additionally turn a literal '+' (which Spark does
    * NOT escape) into a space, corrupting values like "C++" — and the
    * hidden-transform pruning compares these values to PROVE absence, so
    * a corrupted value silently drops matching files. %XX sequences only.
    */
  private def partitionValuesOf(dataDir: Path, file: Path): Map[String, String] = {
    val rel = file.toString.stripPrefix(dataDir.toString).stripPrefix("/")
    rel.split('/').dropRight(1).flatMap { seg =>
      seg.split("=", 2) match {
        case Array(k, v) => Some(k -> unescapePathValue(v))
        case _ => None
      }
    }.toMap
  }

  private def unescapePathValue(v: String): String = {
    val sb = new StringBuilder(v.length)
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '%' && i + 2 < v.length &&
          Character.digit(v.charAt(i + 1), 16) >= 0 &&
          Character.digit(v.charAt(i + 2), 16) >= 0) {
        sb.append((Character.digit(v.charAt(i + 1), 16) * 16 +
          Character.digit(v.charAt(i + 2), 16)).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def icebergTypeName(dt: DataType): String = dt match {
    case LongType => "long"
    case IntegerType => "int"
    case ShortType | ByteType => "int"
    case DoubleType => "double"
    case FloatType => "float"
    case StringType => "string"
    case BooleanType => "boolean"
    case DateType => "date"
    case _: TimestampType => "timestamptz"
    case TimestampNTZType => "timestamp"
    case BinaryType => "binary"
    case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
    case other => other.catalogString
  }

  private def commit(spark: SparkSession, df: DataFrame, tableDir: String,
      mode: SaveMode, withDeleteManifest: Boolean, partitionBy: Seq[String],
      extraSummary: Map[String, String] = Map.empty): Unit = {
    val conf = IcebergLite.sessionHadoopConf(spark)
    val dataDir = s"$tableDir/data"

    // For appends: carry forward prior manifests + snapshot log, and only
    // manifest the data files the prior snapshot does not already track.
    val prior = if (mode == SaveMode.Append)
      IcebergLite.latestMetadataPath(conf, tableDir)
        .map(p => IcebergLite.readMetadataJson(conf, p))
    else None
    val priorFiles = prior.toSeq
      .flatMap(_ => IcebergLite.fileEntries(conf, tableDir)).map(_.path).toSet
    // Appends inherit the table's partition spec unless re-specified.
    val partCols =
      if (partitionBy.nonEmpty) partitionBy
      else prior.map(m => IcebergLite.partitionSpecDsl(m)).getOrElse(Nil)

    // Manifest EXACTLY the files this write produces (listing diff around
    // the write), never "whatever is unmanifested in data/": debris from a
    // commit that died between its data write and its metadata swap must
    // not ride along with a later (e.g. replayed streaming) commit — that
    // would duplicate the dead batch's rows. Orphans stay unreferenced
    // garbage instead, removable by storage-level orphan cleanup exactly
    // as in real Iceberg. Delete files (delete-*.parquet) live under
    // data/ too and are never data.
    val dataPath = new Path(dataDir)
    val fs = dataPath.getFileSystem(conf)
    val before: Set[String] =
      if (fs.exists(dataPath)) listParquet(fs, dataPath).map(_.getPath.toString).toSet
      else Set.empty
    writeStampedParquet(spark, df, dataDir, mode, partCols)
    val dataFiles = listParquet(fs, dataPath)
      .filter(s => !before.contains(s.getPath.toString) &&
        !priorFiles.contains(s.getPath.toString) &&
        !s.getPath.getName.startsWith("delete-"))

    val entries = dataFiles.map { s =>
      val stats = footerStats(conf, s.getPath)
      entryRecord(1, s.getPath.toString, stats.recordCount, s.getLen,
        partitionValuesOf(dataPath, s.getPath),
        stats.lower, stats.upper, stats.nullCounts)
    }

    val snapshotId = math.abs(UUID.randomUUID().getMostSignificantBits)
    val metaDir = s"$tableDir/metadata"
    val manifestPath = new Path(s"$metaDir/manifest-$snapshotId-m0.avro")
    val manifestLen = writeAvro(conf, manifestPath, ManifestEntrySchema, entries)
    var newManifests = Seq((manifestPath.toString, manifestLen, 0))

    if (withDeleteManifest) {
      // A position-delete manifest (content=1) referencing one delete file —
      // enough metadata for hasDeletes to trip, as it would on a real
      // merge-on-read table.
      val delManifestPath = new Path(s"$metaDir/manifest-$snapshotId-m1.avro")
      val delLen = writeAvro(conf, delManifestPath, ManifestEntrySchema, Seq(
        deleteEntry(s"$tableDir/data/delete-00000.parquet", 1L, 0L)))
      newManifests :+= ((delManifestPath.toString, delLen, 1))
    }

    commitSnapshot(conf, tableDir, prior, snapshotId, newManifests,
      schemaJson = Some(schemaFieldsJson(df.schema)), partCols = partCols,
      extraSummary = extraSummary)
  }

  /** The summary key an idempotent streaming sink stamps on each commit. */
  val StreamingBatchIdKey = "streaming-batch-id"

  // Per-table commit locks: the check-then-commit below must be atomic
  // against OTHER WRITERS IN THIS PROCESS (a stopped-and-restarted query
  // whose old instance has one last foreachBatch in flight). Cross-process
  // atomicity needs a catalog with compare-and-swap (what real Iceberg
  // commits use); the lite file format has no CAS, so the documented
  // deployment boundary is one writer process per table — Structured
  // Streaming's one-driver model already matches it.
  private val tableCommitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Append one streaming micro-batch as a snapshot tagged with its batch
    * id. Paired with [[committedStreamingBatchIds]], this gives an
    * exactly-once table from Structured Streaming's at-least-once
    * foreachBatch replay: a restarted query re-offers the last batch, the
    * sink sees its id already in the snapshot log, and skips the commit
    * (the same summary-tag protocol real Iceberg sinks use for
    * idempotence; their tag rides a catalog CAS — see the lock note
    * above for this format's single-process boundary). Returns true when
    * the batch committed, false when it was already present.
    */
  def appendStreamingBatch(spark: SparkSession, df: DataFrame, tableDir: String,
      batchId: Long, partitionBy: Seq[String] = Nil): Boolean = {
    val lock = tableCommitLocks.computeIfAbsent(tableDir, _ => new Object)
    lock.synchronized {
      if (committedStreamingBatchIds(spark, tableDir).contains(batchId)) false
      else {
        val mode =
          if (IcebergLite.latestMetadataPath(
            IcebergLite.sessionHadoopConf(spark), tableDir).isEmpty) SaveMode.Overwrite
          else SaveMode.Append
        commit(spark, df, tableDir, mode, withDeleteManifest = false, partitionBy,
          extraSummary = Map(StreamingBatchIdKey -> batchId.toString))
        true
      }
    }
  }

  // committedStreamingBatchIds memo, keyed by the latest metadata file's
  // name (unique per commit): the per-micro-batch cost stays one directory
  // listing instead of re-parsing a snapshot log that grows with stream
  // lifetime. Pair long-running streams with expireSnapshots maintenance
  // to bound the log itself, exactly as real Iceberg tables do.
  private val batchIdCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Set[Long])]()

  /** Batch ids already committed to the table's snapshot log. Metadata-only
    * (a listing + at most one JSON read) — restart recovery costs no data IO.
    */
  def committedStreamingBatchIds(spark: SparkSession, tableDir: String): Set[Long] = {
    val conf = IcebergLite.sessionHadoopConf(spark)
    IcebergLite.latestMetadataPath(conf, tableDir) match {
      case None => Set.empty
      case Some(p) =>
        val key = p.toString
        val cached = batchIdCache.get(tableDir)
        if (cached != null && cached._1 == key) cached._2
        else {
          val meta = IcebergLite.readMetadataJson(conf, p)
          val ids = (meta.get("snapshots") match {
            case Some(graft.gateway.JValue.JArr(items)) =>
              items.collect { case o: graft.gateway.JValue.JObj => o }
                .flatMap(_.get("summary").collect { case s: graft.gateway.JValue.JObj => s })
                .flatMap(_.str(StreamingBatchIdKey))
                .flatMap(s => scala.util.Try(s.toLong).toOption)
            case _ => Vector.empty
          }).toSet
          batchIdCache.put(tableDir, (key, ids))
          ids
        }
    }
  }

  /** One manifest entry (status 0=EXISTING / 1=ADDED) for a data file. */
  private def entryRecord(status: Int, path: String, recordCount: Long,
      fileSize: Long, partition: Map[String, String],
      lower: Map[String, String], upper: Map[String, String],
      nullCounts: Map[String, Long]): GenericRecord = {
    val dataFile = new GenericData.Record(
      ManifestEntrySchema.getField("data_file").schema())
    dataFile.put("content", 0)
    dataFile.put("file_path", path)
    dataFile.put("file_format", "PARQUET")
    dataFile.put("record_count", recordCount)
    dataFile.put("file_size_in_bytes", fileSize)
    dataFile.put("partition", toJavaMap(partition))
    dataFile.put("lower_bounds", toJavaMap(lower))
    dataFile.put("upper_bounds", toJavaMap(upper))
    dataFile.put("null_value_counts", toJavaLongMap(nullCounts))
    val entry = new GenericData.Record(ManifestEntrySchema)
    entry.put("status", status)
    entry.put("snapshot_id", null)
    entry.put("data_file", dataFile)
    entry
  }

  /** Result of one [[compact]] call: how many small files were rewritten
    * into how many consolidated ones (0/0 = nothing to do, no commit).
    */
  final case class CompactionResult(rewritten: Int, written: Int)

  /** Small-file compaction: rewrite every partition's sub-target-size data
    * files into ~targetBytes consolidated files and commit the result as a
    * REPLACE snapshot (new manifest lists surviving + compacted files; the
    * prior snapshot keeps its own manifests, so time travel to it still
    * reads the pre-compaction layout). The operational answer to the
    * many-small-files degradation the reference documents
    * (/root/reference/README.md:232, ~10k-file threshold): scan planning
    * and footer overhead are proportional to FILE COUNT, not data size,
    * so at 100 TB an uncompacted ingest pattern dominates query latency.
    *
    * Refuses tables with row-level deletes: a rewrite invalidates the
    * (file, position) coordinates position-deletes point at.
    */
  def compact(spark: SparkSession, tableDir: String,
      targetBytes: Long = 128L << 20): CompactionResult = {
    require(targetBytes > 0, "targetBytes must be positive")
    val conf = IcebergLite.sessionHadoopConf(spark)
    val metaPath = IcebergLite.latestMetadataPath(conf, tableDir).getOrElse(
      throw IcebergLite.ProbeError(s"No Iceberg metadata at $tableDir"))
    val meta = IcebergLite.readMetadataJson(conf, metaPath)
    val entries = IcebergLite.fileEntries(conf, tableDir)
    if (entries.exists(e => e.fileContent != 0 || e.manifestContent != 0))
      throw IcebergLite.ProbeError(
        s"Compaction refused: $tableDir has row-level delete files, and " +
          "rewriting data files would invalidate their (file, position) " +
          "coordinates. Apply or drop the deletes first.")

    val dataPath = new Path(s"$tableDir/data")
    val fs = dataPath.getFileSystem(conf)
    val survivors = mutable.Buffer.empty[IcebergLite.FileEntry]
    val newFiles = mutable.Buffer.empty[Path]
    var rewritten = 0
    entries.groupBy(_.partitionValues).foreach { case (_, group) =>
      val small = group.filter(_.fileSize < targetBytes)
      if (small.size < 2) survivors ++= group
      else {
        survivors ++= group.filterNot(small.contains)
        // The partition's directory is where its files already live; the
        // compacted replacements land beside them (partitionValuesOf
        // re-derives the same partition tuple from the path).
        val destDir = new Path(small.head.path).getParent
        val before = listParquet(fs, destDir).map(_.getPath.toString).toSet
        val nOut = math.max(1,
          math.ceil(small.map(_.fileSize).sum.toDouble / targetBytes).toInt)
        val df = spark.read.parquet(small.map(_.path): _*).coalesce(nOut)
        writeStampedParquet(spark, df, destDir.toString, SaveMode.Append, Nil)
        newFiles ++= listParquet(fs, destDir)
          .map(_.getPath).filterNot(p => before.contains(p.toString))
        rewritten += small.size
      }
    }
    if (rewritten == 0) return CompactionResult(0, 0)

    val newEntries = newFiles.toSeq.map { p =>
      val stats = footerStats(conf, p)
      entryRecord(1, p.toString, stats.recordCount,
        fs.getFileStatus(p).getLen, partitionValuesOf(dataPath, p),
        stats.lower, stats.upper, stats.nullCounts)
    }
    val carried = survivors.toSeq.map(e =>
      entryRecord(0, e.path, e.recordCount, e.fileSize, e.partitionValues,
        e.lowerBounds, e.upperBounds, e.nullCounts))

    val snapshotId = math.abs(UUID.randomUUID().getMostSignificantBits)
    val manifestPath = new Path(s"$tableDir/metadata/manifest-$snapshotId-m0.avro")
    val manifestLen = writeAvro(conf, manifestPath, ManifestEntrySchema,
      carried ++ newEntries)
    commitSnapshot(conf, tableDir, Some(meta), snapshotId,
      Seq((manifestPath.toString, manifestLen, 0)), schemaJson = None,
      partCols = IcebergLite.partitionSpecDsl(meta),
      carryPriorManifests = false, operation = "replace")
    CompactionResult(rewritten, newFiles.size)
  }

  /** Rewrite the table's CURRENT merged state (row-level deletes APPLIED)
    * into fresh data files and commit the result as a REPLACE snapshot
    * that carries no delete manifests — the in-engine analog of Iceberg's
    * `rewrite_data_files`, i.e. the remediation the delete guard's
    * "compact the table first" message tells users to run
    * (reference backend/main.py:398-414 points at EXTERNAL engines for
    * this; the gateway's maintenance endpoint closes that loop in-house).
    * After the rewrite the table passes [[IcebergLite.assertNoDeletes]];
    * time travel to pre-rewrite snapshots still reads the MoR layout.
    *
    * No-op (0, 0) on a table without deletes — plain [[compact]] covers
    * the small-file case there. Returns (rewritten = live data files
    * replaced, written = new files).
    */
  def rewriteApplyingDeletes(spark: SparkSession, tableDir: String): CompactionResult = {
    val conf = IcebergLite.sessionHadoopConf(spark)
    val metaPath = IcebergLite.latestMetadataPath(conf, tableDir).getOrElse(
      throw IcebergLite.ProbeError(s"No Iceberg metadata at $tableDir"))
    val meta = IcebergLite.readMetadataJson(conf, metaPath)
    val entries = IcebergLite.fileEntries(conf, tableDir)
    // Match the scan guard's predicate (status != 2, like the filters on
    // posDeleteFiles/eqDeleteEntries below): fileEntries already drops
    // tombstoned entries today, but if that ever changes, a snapshot
    // whose delete entries are all tombstoned applies nothing on read
    // and must not trigger a full-table rewrite here.
    if (!entries.exists(e =>
        (e.fileContent != 0 || e.manifestContent != 0) && e.status != 2))
      return CompactionResult(0, 0)
    val liveData = entries.filter(e =>
      e.fileContent == 0 && e.manifestContent == 0 && e.status != 2)
    val partCols = IcebergLite.partitionSpecDsl(meta)
    val merged = IcebergLite.scan(spark, tableDir, applyDeletes = true)
    val dataPath = new Path(s"$tableDir/data")
    val fs = dataPath.getFileSystem(conf)
    val before =
      if (fs.exists(dataPath)) listParquet(fs, dataPath).map(_.getPath.toString).toSet
      else Set.empty[String]
    writeStampedParquet(spark, merged, dataPath.toString, SaveMode.Append, partCols)
    val newFiles = listParquet(fs, dataPath)
      .filter(s => !before.contains(s.getPath.toString) &&
        !s.getPath.getName.startsWith("delete-"))
    val newEntries = newFiles.map { s =>
      val stats = footerStats(conf, s.getPath)
      entryRecord(1, s.getPath.toString, stats.recordCount, s.getLen,
        partitionValuesOf(dataPath, s.getPath), stats.lower, stats.upper, stats.nullCounts)
    }
    val snapshotId = math.abs(UUID.randomUUID().getMostSignificantBits)
    val manifestPath = new Path(s"$tableDir/metadata/manifest-$snapshotId-m0.avro")
    val manifestLen = writeAvro(conf, manifestPath, ManifestEntrySchema, newEntries)
    commitSnapshot(conf, tableDir, Some(meta), snapshotId,
      Seq((manifestPath.toString, manifestLen, 0)), schemaJson = None,
      partCols = partCols, carryPriorManifests = false, operation = "replace")
    CompactionResult(liveData.size, newFiles.size)
  }

  /** Commit a position-delete snapshot: writes the (file_path, pos) rows as
    * a real parquet delete file plus a content=1 manifest, carrying the
    * prior snapshot's manifests forward. `IcebergLite.scan(...,
    * applyDeletes = true)` then merges them on read.
    */
  def addPositionDeletes(spark: SparkSession, tableDir: String,
      deletes: Seq[(String, Long)], fileContent: Int = 1): Unit = {
    require(deletes.nonEmpty, "addPositionDeletes needs at least one (file, pos)")
    val conf = IcebergLite.sessionHadoopConf(spark)
    val prior = IcebergLite.latestMetadataPath(conf, tableDir)
      .map(p => IcebergLite.readMetadataJson(conf, p))
      .getOrElse(throw IcebergLite.ProbeError(s"No Iceberg table at $tableDir"))

    val snapshotId = math.abs(UUID.randomUUID().getMostSignificantBits)
    // Write the delete rows through Spark, then promote the single part
    // file to a stable name under data/.
    val tmp = s"$tableDir/tmp-delete-$snapshotId"
    import spark.implicits._
    deletes.toDF("file_path", "pos").coalesce(1).write.parquet(tmp)
    val tmpPath = new Path(tmp)
    val fs = tmpPath.getFileSystem(conf)
    val part = listParquet(fs, tmpPath).head.getPath
    val delFile = new Path(s"$tableDir/data/delete-$snapshotId.parquet")
    fs.rename(part, delFile)
    fs.delete(tmpPath, true)

    val metaDir = s"$tableDir/metadata"
    val delManifestPath = new Path(s"$metaDir/manifest-$snapshotId-m0.avro")
    val len = fs.getFileStatus(delFile).getLen
    // Manifest the filesystem-qualified path so later appends' prior-file
    // exclusion (which compares against qualified listing paths) sees it.
    val delLen = writeAvro(conf, delManifestPath, ManifestEntrySchema, Seq(
      deleteEntry(fs.makeQualified(delFile).toString,
        deletes.length.toLong, len, fileContent)))
    commitSnapshot(conf, tableDir, Some(prior), snapshotId,
      Seq((delManifestPath.toString, delLen, 1)), schemaJson = None,
      partCols = IcebergLite.partitionSpecDsl(prior))
  }

  /** Commit an equality-delete snapshot. As in Iceberg proper (spec §
    * "Equality Delete Files"), the delete parquet's SCHEMA is the equality
    * column set — a data row matches when it equals some delete row on
    * every delete-file column (null-safe). Sequence semantics follow the
    * spec: the delete applies only to data files committed in snapshots
    * strictly before its own, which `IcebergLite.scan(..., applyDeletes =
    * true)` enforces by resolving the delete's snapshot file listing.
    */
  def addEqualityDeletes(spark: SparkSession, tableDir: String,
      deleteRows: org.apache.spark.sql.DataFrame): Unit = {
    require(deleteRows.columns.nonEmpty, "equality delete needs at least one column")
    val conf = IcebergLite.sessionHadoopConf(spark)
    val prior = IcebergLite.latestMetadataPath(conf, tableDir)
      .map(p => IcebergLite.readMetadataJson(conf, p))
      .getOrElse(throw IcebergLite.ProbeError(s"No Iceberg table at $tableDir"))

    val snapshotId = math.abs(UUID.randomUUID().getMostSignificantBits)
    val nRows = deleteRows.count()
    require(nRows > 0, "equality delete needs at least one row")
    val tmp = s"$tableDir/tmp-delete-$snapshotId"
    deleteRows.coalesce(1).write.parquet(tmp)
    val tmpPath = new Path(tmp)
    val fs = tmpPath.getFileSystem(conf)
    val part = listParquet(fs, tmpPath).head.getPath
    val delFile = new Path(s"$tableDir/data/delete-$snapshotId.parquet")
    fs.rename(part, delFile)
    fs.delete(tmpPath, true)

    val metaDir = s"$tableDir/metadata"
    val delManifestPath = new Path(s"$metaDir/manifest-$snapshotId-m0.avro")
    val len = fs.getFileStatus(delFile).getLen
    val delLen = writeAvro(conf, delManifestPath, ManifestEntrySchema, Seq(
      deleteEntry(fs.makeQualified(delFile).toString, nRows, len, fileContent = 2)))
    commitSnapshot(conf, tableDir, Some(prior), snapshotId,
      Seq((delManifestPath.toString, delLen, 1)), schemaJson = None,
      partCols = IcebergLite.partitionSpecDsl(prior))
  }

  /** Atomic upsert (MERGE-on-read): ONE snapshot carrying BOTH an
    * equality-delete file on `keyCols` (the incoming keys) and the new
    * data files — the CDC verb real Iceberg v2 writers emit for
    * row-level updates. Readers that opt into delete application see
    * each incoming key's new row and none of its old ones; time travel
    * to the pre-upsert snapshot still sees the old rows; and because the
    * delete and the data commit TOGETHER, no reader can observe the
    * deleted-but-not-yet-reinserted intermediate state that the
    * two-snapshot addEqualityDeletes + append sequence exposes.
    *
    * Scoping leans on the reader's "strictly before" rule: the delete
    * applies to data files of the upsert snapshot's PARENT listing, so
    * the data files committed in this same snapshot are untouched even
    * when they carry the deleted keys — which is precisely what makes
    * the new versions survive.
    */
  def upsert(spark: SparkSession, df: DataFrame, tableDir: String,
      keyCols: Seq[String]): Unit = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    require(keyCols.forall(df.columns.contains),
      s"key columns ${keyCols.mkString(",")} must exist in the upsert batch")
    val conf = IcebergLite.sessionHadoopConf(spark)
    val prior = IcebergLite.latestMetadataPath(conf, tableDir)
      .map(p => IcebergLite.readMetadataJson(conf, p))
      .getOrElse(throw IcebergLite.ProbeError(s"No Iceberg table at $tableDir"))
    val partCols = IcebergLite.partitionSpecDsl(prior)
    val priorFiles = IcebergLite.fileEntries(conf, tableDir).map(_.path).toSet

    val snapshotId = math.abs(UUID.randomUUID().getMostSignificantBits)
    val dataDir = s"$tableDir/data"
    val dataPath = new Path(dataDir)
    val fs = dataPath.getFileSystem(conf)

    // Equality-delete file: the batch's distinct keys.
    val delRows = df.select(keyCols.map(org.apache.spark.sql.functions.col): _*).distinct()
    val nDel = delRows.count()
    require(nDel > 0, "upsert batch is empty")
    val tmp = s"$tableDir/tmp-delete-$snapshotId"
    delRows.coalesce(1).write.parquet(tmp)
    val tmpPath = new Path(tmp)
    val part = listParquet(fs, tmpPath).head.getPath
    val delFile = new Path(s"$dataDir/delete-$snapshotId.parquet")
    fs.rename(part, delFile)
    fs.delete(tmpPath, true)

    // Data files: listing diff around the write, as in commit().
    val before: Set[String] =
      if (fs.exists(dataPath)) listParquet(fs, dataPath).map(_.getPath.toString).toSet
      else Set.empty
    writeStampedParquet(spark, df, dataDir, SaveMode.Append, partCols)
    val dataFiles = listParquet(fs, dataPath)
      .filter(s => !before.contains(s.getPath.toString) &&
        !priorFiles.contains(s.getPath.toString) &&
        !s.getPath.getName.startsWith("delete-"))
    val dataEntries = dataFiles.map { s =>
      val stats = footerStats(conf, s.getPath)
      entryRecord(1, s.getPath.toString, stats.recordCount, s.getLen,
        partitionValuesOf(dataPath, s.getPath),
        stats.lower, stats.upper, stats.nullCounts)
    }

    val metaDir = s"$tableDir/metadata"
    val dataManifestPath = new Path(s"$metaDir/manifest-$snapshotId-m0.avro")
    val dataLen = writeAvro(conf, dataManifestPath, ManifestEntrySchema, dataEntries)
    val delManifestPath = new Path(s"$metaDir/manifest-$snapshotId-m1.avro")
    val delLen = writeAvro(conf, delManifestPath, ManifestEntrySchema, Seq(
      deleteEntry(fs.makeQualified(delFile).toString, nDel,
        fs.getFileStatus(delFile).getLen, fileContent = 2)))
    commitSnapshot(conf, tableDir, Some(prior), snapshotId,
      Seq((dataManifestPath.toString, dataLen, 0), (delManifestPath.toString, delLen, 1)),
      schemaJson = None, partCols = partCols, operation = "overwrite")
  }

  // fileContent 1 = position deletes; 2 = equality deletes (also settable
  // through addPositionDeletes' fileContent for malformed-fixture tests).
  private def deleteEntry(path: String, rows: Long, size: Long,
      fileContent: Int = 1): GenericRecord = {
    val delFile = new GenericData.Record(ManifestEntrySchema.getField("data_file").schema())
    delFile.put("content", fileContent)
    delFile.put("file_path", path)
    delFile.put("file_format", "PARQUET")
    delFile.put("record_count", rows)
    delFile.put("file_size_in_bytes", size)
    delFile.put("partition", new java.util.HashMap[String, String]())
    delFile.put("lower_bounds", new java.util.HashMap[String, String]())
    delFile.put("upper_bounds", new java.util.HashMap[String, String]())
    delFile.put("null_value_counts", new java.util.HashMap[String, java.lang.Long]())
    val delEntry = new GenericData.Record(ManifestEntrySchema)
    delEntry.put("status", 1)
    delEntry.put("snapshot_id", null)
    delEntry.put("data_file", delFile)
    delEntry
  }

  private def listParquet(fs: FileSystem, dir: Path): Seq[FileStatus] = {
    val out = mutable.ArrayBuffer.empty[FileStatus]
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val s = it.next()
      if (s.getPath.getName.endsWith(".parquet")) out += s
    }
    out.toSeq.sortBy(_.getPath.toString)
  }

  private def toJavaMap(m: Map[String, String]): java.util.Map[String, String] = {
    val jm = new java.util.HashMap[String, String]()
    m.foreach { case (k, v) => jm.put(k, v) }
    jm
  }

  private def toJavaLongMap(m: Map[String, Long]): java.util.Map[String, java.lang.Long] = {
    val jm = new java.util.HashMap[String, java.lang.Long]()
    m.foreach { case (k, v) => jm.put(k, Long.box(v)) }
    jm
  }

  /** `fields` array of the lite schema entry (name/required/type per the
    * Iceberg spec's schema JSON; ids are ordinal — this writer never
    * renames, so ordinal ids are stable).
    */
  private def schemaFieldsJson(schema: StructType): String =
    schema.fields.zipWithIndex.map { case (f, i) =>
      s"""{"id": ${i + 1}, "name": "${f.name}", "required": ${!f.nullable}, "type": "${icebergTypeName(f.dataType)}"}"""
    }.mkString("[", ", ", "]")

  /** Write manifest list + new metadata JSON for a snapshot whose new
    * manifests are `newManifests` (path, length, content), carrying the
    * prior snapshot's manifests and snapshot log forward.
    */
  private def commitSnapshot(conf: Configuration, tableDir: String,
      prior: Option[graft.gateway.JValue.JObj], snapshotId: Long,
      newManifests: Seq[(String, Long, Int)], schemaJson: Option[String],
      partCols: Seq[String], carryPriorManifests: Boolean = true,
      operation: String = "append",
      extraSummary: Map[String, String] = Map.empty): Unit = {
    val metaDir = s"$tableDir/metadata"
    // REPLACE commits (compaction) write a complete manifest themselves;
    // carrying the prior ones would resurrect the rewritten files.
    val priorManifests =
      if (carryPriorManifests)
        prior.toSeq.flatMap(m => IcebergLite.currentManifests(conf, tableDir, m))
      else Nil
    val carried = priorManifests.map { m =>
      val p = new Path(m.path)
      manifestFileRecord(m.path, p.getFileSystem(conf).getFileStatus(p).getLen,
        m.content, snapshotId)
    }
    val manifestRecords = carried ++ newManifests.map { case (p, len, content) =>
      manifestFileRecord(p, len, content, snapshotId)
    }
    val manifestListPath = new Path(s"$metaDir/snap-$snapshotId-1.avro")
    writeAvro(conf, manifestListPath, ManifestFileSchema, manifestRecords)

    val nowMs = System.currentTimeMillis()
    val summaryJson = (Seq(s""""operation": "$operation"""") ++
      extraSummary.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": "$v"""" })
      .mkString("{", ", ", "}")
    // Lineage per the spec: each snapshot records the snapshot it was
    // committed on top of; the history relation chases this chain.
    val parentId = prior.flatMap(longOf(_, "current-snapshot-id"))
    val parentField = parentId.map(p => s"""
         |      "parent-snapshot-id": $p,""".stripMargin).getOrElse("")
    val newSnapshot =
      s"""{
         |      "snapshot-id": $snapshotId,$parentField
         |      "timestamp-ms": $nowMs,
         |      "manifest-list": "$manifestListPath",
         |      "summary": $summaryJson
         |    }""".stripMargin
    val priorSnapshots = prior.toSeq.flatMap(_.get("snapshots")).flatMap {
      case graft.gateway.JValue.JArr(items) => items.map(graft.gateway.Json.render)
      case _ => Nil
    }
    // Schema: new commits declare theirs; carry the prior declaration when
    // this commit has none (delete commits).
    val effSchema = schemaJson.orElse(
      prior.flatMap(m => IcebergLite.currentSchemaFieldsJson(m)))
    val snapshotsJson = (priorSnapshots :+ newSnapshot).mkString(",\n    ")
    // snapshot-log: when each snapshot became the current one (the
    // `history` metadata table reads this; distinct from the snapshot's
    // own commit timestamp after rollbacks re-current an old snapshot).
    val logJson = (prior.toSeq.flatMap(snapshotLogEntries) :+ (nowMs, snapshotId))
      .map { case (ts, id) => s"""{"timestamp-ms": $ts, "snapshot-id": $id}""" }
      .mkString(",\n    ")
    val refsJson = renderRefs(prior.map(refEntries).getOrElse(Nil))
    val specFields = partCols.map(PartitionSpec.parse).zipWithIndex.map {
      case (f, i) =>
        s"""{"name": "${f.name}", "transform": "${f.transform}", "source-name": "${f.source}", "source-id": ${i + 1}, "field-id": ${1000 + i}}"""
    }.mkString("[", ", ", "]")
    val schemaSection = effSchema.map(fs =>
      s"""
         |  "current-schema-id": 0,
         |  "schemas": [{"type": "struct", "schema-id": 0, "fields": $fs}],""".stripMargin)
      .getOrElse("")
    val metadataJson =
      s"""{
         |  "format-version": 2,
         |  "table-uuid": "${UUID.randomUUID()}",
         |  "location": "$tableDir",
         |  "last-updated-ms": $nowMs,$schemaSection
         |  "default-spec-id": 0,
         |  "partition-specs": [{"spec-id": 0, "fields": $specFields}],
         |  "current-snapshot-id": $snapshotId,
         |  "snapshots": [
         |    $snapshotsJson
         |  ],
         |  "snapshot-log": [
         |    $logJson
         |  ],
         |  "refs": $refsJson
         |}""".stripMargin
    val metaDirPath = new Path(metaDir)
    val metaFs = metaDirPath.getFileSystem(conf)
    val version =
      if (!metaFs.exists(metaDirPath)) 0
      else metaFs.listStatus(metaDirPath)
        .count(_.getPath.getName.endsWith(".metadata.json"))
    val metaJsonPath = new Path(f"$metaDir/$version%05d-${UUID.randomUUID()}.metadata.json")
    val out = metaJsonPath.getFileSystem(conf).create(metaJsonPath, true)
    out.write(metadataJson.getBytes("UTF-8"))
    out.close()
  }

  // ---- table maintenance: rollback + snapshot expiration -----------------

  private def longOf(o: graft.gateway.JValue.JObj, key: String): Option[Long] =
    o.get(key).collect { case graft.gateway.JValue.JNum(v) => v.toLong }

  private def snapshotObjs(meta: graft.gateway.JValue.JObj): Vector[graft.gateway.JValue.JObj] =
    meta.get("snapshots") match {
      case Some(graft.gateway.JValue.JArr(items)) =>
        items.collect { case o: graft.gateway.JValue.JObj => o }
      case _ => Vector.empty
    }

  /** (name, snapshot-id, type) entries of the metadata's refs map. */
  private def refEntries(meta: graft.gateway.JValue.JObj): Seq[(String, Long, String)] =
    meta.get("refs") match {
      case Some(o: graft.gateway.JValue.JObj) => o.fields.collect {
        case (name, r: graft.gateway.JValue.JObj) =>
          (name, longOf(r, "snapshot-id").getOrElse(0L),
            r.str("type").getOrElse("tag"))
      }
      case _ => Nil
    }

  private def renderRefs(refs: Seq[(String, Long, String)]): String =
    refs.map { case (name, id, tpe) =>
      s""""$name": {"snapshot-id": $id, "type": "$tpe"}"""
    }.mkString("{", ", ", "}")

  private val RefNameRe = "^[A-Za-z0-9._-]{1,255}$".r

  /** Create or move a named ref — Iceberg's tags ("keep this snapshot
    * addressable as v1.0") and branches. Metadata-only commit; the ref'd
    * snapshot becomes immune to [[expireSnapshots]] until the ref drops.
    * `main` is reserved: it always means the current snapshot.
    */
  def setRef(spark: SparkSession, tableDir: String, name: String,
      snapshotId: Long, refType: String = "tag"): Unit = {
    require(RefNameRe.pattern.matcher(name).matches,
      s"ref name must match ${RefNameRe.pattern} (got '$name')")
    require(name != "main", "'main' is reserved for the current snapshot")
    require(refType == "tag" || refType == "branch",
      s"ref type must be 'tag' or 'branch', got '$refType'")
    val conf = spark.sessionState.newHadoopConf()
    val meta = IcebergLite.resolveMetadata(conf, tableDir)
    val snaps = snapshotObjs(meta)
    require(snaps.exists(s => longOf(s, "snapshot-id").contains(snapshotId)),
      s"snapshot $snapshotId not found at $tableDir")
    val currentId = longOf(meta, "current-snapshot-id")
      .getOrElse(throw IcebergLite.ProbeError("metadata has no current-snapshot-id"))
    val refs = refEntries(meta).filterNot(_._1 == name) :+ ((name, snapshotId, refType))
    writeMetadataOnly(conf, tableDir, meta, snaps, currentId,
      snapshotLogEntries(meta), Some(refs))
  }

  /** Drop a named ref; its snapshot becomes expirable again. */
  def dropRef(spark: SparkSession, tableDir: String, name: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val meta = IcebergLite.resolveMetadata(conf, tableDir)
    val refs = refEntries(meta)
    require(refs.exists(_._1 == name), s"ref '$name' not found at $tableDir")
    val currentId = longOf(meta, "current-snapshot-id")
      .getOrElse(throw IcebergLite.ProbeError("metadata has no current-snapshot-id"))
    writeMetadataOnly(conf, tableDir, meta, snapshotObjs(meta), currentId,
      snapshotLogEntries(meta), Some(refs.filterNot(_._1 == name)))
  }

  /** (timestamp-ms, snapshot-id) entries of the metadata's snapshot-log;
    * tables written before the log existed fall back to commit order.
    */
  private def snapshotLogEntries(meta: graft.gateway.JValue.JObj): Seq[(Long, Long)] =
    meta.get("snapshot-log") match {
      case Some(graft.gateway.JValue.JArr(items)) =>
        items.collect { case o: graft.gateway.JValue.JObj =>
          (longOf(o, "timestamp-ms").getOrElse(0L),
            longOf(o, "snapshot-id").getOrElse(0L))
        }
      case _ => snapshotObjs(meta).flatMap { s =>
        for (id <- longOf(s, "snapshot-id"); ts <- longOf(s, "timestamp-ms"))
          yield (ts, id)
      }
    }

  /** Metadata-only commit: re-render the table metadata with the given
    * snapshot list and current pointer, carrying schema and partition spec
    * forward. No manifests or data files are touched.
    */
  private def writeMetadataOnly(conf: Configuration, tableDir: String,
      prior: graft.gateway.JValue.JObj,
      snapshots: Seq[graft.gateway.JValue.JObj], currentId: Long,
      snapshotLog: Seq[(Long, Long)],
      refs: Option[Seq[(String, Long, String)]] = None): Unit = {
    val metaDir = s"$tableDir/metadata"
    val snapshotsJson = snapshots.map(graft.gateway.Json.render).mkString(",\n    ")
    val logJson = snapshotLog
      .map { case (ts, id) => s"""{"timestamp-ms": $ts, "snapshot-id": $id}""" }
      .mkString(",\n    ")
    val refsJson = renderRefs(refs.getOrElse(refEntries(prior)))
    val partCols = IcebergLite.partitionSpecDsl(prior)
    val specFields = partCols.map(PartitionSpec.parse).zipWithIndex.map {
      case (f, i) =>
        s"""{"name": "${f.name}", "transform": "${f.transform}", "source-name": "${f.source}", "source-id": ${i + 1}, "field-id": ${1000 + i}}"""
    }.mkString("[", ", ", "]")
    val schemaSection = IcebergLite.currentSchemaFieldsJson(prior).map(fs =>
      s"""
         |  "current-schema-id": 0,
         |  "schemas": [{"type": "struct", "schema-id": 0, "fields": $fs}],""".stripMargin)
      .getOrElse("")
    val metadataJson =
      s"""{
         |  "format-version": 2,
         |  "table-uuid": "${UUID.randomUUID()}",
         |  "location": "$tableDir",
         |  "last-updated-ms": ${System.currentTimeMillis()},$schemaSection
         |  "default-spec-id": 0,
         |  "partition-specs": [{"spec-id": 0, "fields": $specFields}],
         |  "current-snapshot-id": $currentId,
         |  "snapshots": [
         |    $snapshotsJson
         |  ],
         |  "snapshot-log": [
         |    $logJson
         |  ],
         |  "refs": $refsJson
         |}""".stripMargin
    val metaDirPath = new Path(metaDir)
    val metaFs = metaDirPath.getFileSystem(conf)
    val version = metaFs.listStatus(metaDirPath)
      .count(_.getPath.getName.endsWith(".metadata.json"))
    val metaJsonPath = new Path(f"$metaDir/$version%05d-${UUID.randomUUID()}.metadata.json")
    val out = metaJsonPath.getFileSystem(conf).create(metaJsonPath, true)
    out.write(metadataJson.getBytes("UTF-8"))
    out.close()
  }

  /** Roll the table's current pointer back (or forward) to an existing
    * snapshot — Iceberg's `rollback_to_snapshot` semantics: a metadata-only
    * commit, every snapshot stays addressable, so the rollback itself can
    * be undone by rolling "back" to the newer snapshot id.
    */
  def rollback(spark: SparkSession, tableDir: String, toSnapshotId: Long): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val meta = IcebergLite.resolveMetadata(conf, tableDir)
    val snaps = snapshotObjs(meta)
    require(snaps.exists(s => longOf(s, "snapshot-id").contains(toSnapshotId)),
      s"snapshot $toSnapshotId not found at $tableDir")
    // A rollback makes an OLD snapshot current again: the snapshot list is
    // untouched but the history gains a new made-current entry (this is
    // exactly what distinguishes `history` from `snapshots`).
    val log = snapshotLogEntries(meta) :+ ((System.currentTimeMillis(), toSnapshotId))
    writeMetadataOnly(conf, tableDir, meta, snaps, toSnapshotId, log)
  }

  /** Result of one [[expireSnapshots]] call. */
  final case class ExpireResult(expiredSnapshots: Int, deletedManifests: Int,
      deletedDataFiles: Int)

  /** Expire all but the most recent `keepLast` snapshots (the current
    * snapshot is always retained), deleting every manifest list, manifest,
    * and data file reachable ONLY from expired snapshots. Reachability is
    * computed over ALL entry statuses, so a file that a retained snapshot
    * merely tombstoned (status 2) — still needed to reconstruct that
    * snapshot's history — is never deleted. On a merge-on-read table the
    * parent CHAIN of any retained delete-carrying snapshot is retained
    * too (the scan scopes equality deletes to their commit's parent
    * listing), so expiry never strands a delete-applying reader —
    * reclamation on MoR tables comes from [[compact]], which rewrites
    * the deletes away, after which expiry reclaims the old layout.
    *
    * Scale note: the planning walk is proportional to manifest count, not
    * data size (same as scan planning), and deletes are issued per file —
    * at object-store scale these would batch through a bulk-delete API,
    * which changes the I/O call, not the reachability computation.
    */
  def expireSnapshots(spark: SparkSession, tableDir: String,
      keepLast: Int): ExpireResult = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val conf = spark.sessionState.newHadoopConf()
    val meta = IcebergLite.resolveMetadata(conf, tableDir)
    val snaps = snapshotObjs(meta)
    val currentId = longOf(meta, "current-snapshot-id")
      .getOrElse(throw IcebergLite.ProbeError("metadata has no current-snapshot-id"))
    val retained = {
      val tailIds = snaps.takeRight(keepLast).flatMap(longOf(_, "snapshot-id")).toSet
      // Ref-targeted snapshots (tags/branches) are never expirable — the
      // whole point of a tag is to keep its snapshot addressable.
      var keepIds = tailIds + currentId ++ refEntries(meta).map(_._2)
      // MoR readability: the scan scopes an equality delete to the file
      // listing at the delete snapshot's PARENT (IcebergLite.scan), so a
      // retained snapshot that carries delete manifests needs its parent
      // retained too — expiring the parent would leave the table
      // unreadable in delete-applying mode ("snapshot not found"). Closed
      // under iteration: a newly-retained parent may itself carry
      // deletes. Bounded by the snapshot count.
      val byId = snaps.flatMap(s => longOf(s, "snapshot-id").map(_ -> s)).toMap
      var grown = true
      while (grown) {
        val parents = keepIds.flatMap(byId.get)
          .filter(s => IcebergLite.currentManifests(conf, tableDir, meta,
            longOf(s, "snapshot-id")).exists(_.content == 1))
          .flatMap(s => longOf(s, "parent-snapshot-id"))
          .filter(byId.contains)
        val add = parents -- keepIds
        grown = add.nonEmpty
        keepIds ++= add
      }
      snaps.filter(s => longOf(s, "snapshot-id").exists(keepIds))
    }
    val retainedIds = retained.flatMap(longOf(_, "snapshot-id")).toSet
    val expired = snaps.filterNot(s => longOf(s, "snapshot-id").exists(retainedIds))
    if (expired.isEmpty) return ExpireResult(0, 0, 0)

    def manifestPathsOf(snapIds: Seq[Long]): Set[String] =
      snapIds.flatMap(id =>
        IcebergLite.currentManifests(conf, tableDir, meta, Some(id)).map(_.path)).toSet
    val liveManifests = manifestPathsOf(retainedIds.toSeq)
    val expiredIds = expired.flatMap(longOf(_, "snapshot-id"))
    val deadManifests = manifestPathsOf(expiredIds) -- liveManifests
    val liveFiles = liveManifests.flatMap(IcebergLite.manifestFilePaths(conf, _))
    val deadFiles =
      deadManifests.flatMap(IcebergLite.manifestFilePaths(conf, _)) -- liveFiles

    def delete(p: String): Unit = {
      val path = new Path(p)
      path.getFileSystem(conf).delete(path, false)
    }
    deadFiles.foreach(delete)
    deadManifests.foreach(delete)
    expired.flatMap(_.str("manifest-list")).foreach(delete)
    val log = snapshotLogEntries(meta).filter { case (_, id) => retainedIds(id) }
    writeMetadataOnly(conf, tableDir, meta, retained, currentId, log)
    ExpireResult(expired.size, deadManifests.size, deadFiles.size)
  }

  final case class OrphanCleanupResult(scanned: Int, deleted: Int)

  /** Delete data-directory files NO snapshot in the log references — the
    * debris a commit leaves when it dies between its data write and its
    * metadata swap (commits deliberately never adopt such files; see the
    * listing-diff note in `commit`). Reachability is computed over EVERY
    * snapshot, current and historical, so time travel stays intact, and
    * `olderThanMs` is the same grace period real Iceberg's
    * remove_orphan_files defaults to days of: an in-flight concurrent
    * commit's data files exist BEFORE its metadata lands, and a zero
    * grace period would eat them. Single-writer-process boundary as with
    * all lite commits.
    *
    * Listing + deletion are driver-side Hadoop FS calls, like
    * [[expireSnapshots]]: at object-store scale both would batch through
    * a bulk API — different I/O, same reachability computation.
    */
  def removeOrphanFiles(spark: SparkSession, tableDir: String,
      olderThanMs: Long): OrphanCleanupResult = {
    require(olderThanMs >= 0, "olderThanMs must be >= 0")
    val conf = spark.sessionState.newHadoopConf()
    val meta = IcebergLite.resolveMetadata(conf, tableDir)
    val snapIds = snapshotObjs(meta).flatMap(longOf(_, "snapshot-id"))
    // Every commit carries prior manifests forward, so the same manifest
    // appears in many snapshots' lists — dedupe the PATHS before reading
    // (O(manifests) Avro reads, not O(snapshots x manifests): a 1000-
    // append table would otherwise re-read ~500k manifests here).
    val manifestPaths = snapIds.flatMap(id =>
      IcebergLite.currentManifests(conf, tableDir, meta, Some(id)).map(_.path)).distinct
    val dataPath = new Path(s"$tableDir/data")
    val fs = dataPath.getFileSystem(conf)
    // Qualify BOTH sides before comparing: manifests may record paths in a
    // different form than the listing returns (scheme-less tableDir, a
    // relocated/copied table, externally authored metadata). Raw string
    // equality would make every live file look orphaned — and deleted.
    val qualify = (p: Path) => fs.makeQualified(p).toString
    val live: Set[String] = manifestPaths
      .flatMap(p => IcebergLite.manifestFilePaths(conf, p))
      .map(p => qualify(new Path(p))).toSet
    val all = if (fs.exists(dataPath)) listParquet(fs, dataPath) else Nil
    val cutoff = System.currentTimeMillis() - olderThanMs
    val orphans = all.filter(s =>
      !live.contains(qualify(s.getPath)) && s.getModificationTime <= cutoff)
    orphans.foreach(s => fs.delete(s.getPath, false))
    OrphanCleanupResult(all.size, orphans.size)
  }

  private def manifestFileRecord(path: String, len: Long, content: Int,
      snapshotId: Long): GenericRecord = {
    val r = new GenericData.Record(ManifestFileSchema)
    r.put("manifest_path", path)
    r.put("manifest_length", len)
    r.put("partition_spec_id", 0)
    r.put("content", content)
    r.put("added_snapshot_id", snapshotId)
    r
  }
}
