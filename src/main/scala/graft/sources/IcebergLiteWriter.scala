package graft.sources

import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types._

import graft.gateway.{JValue, Json}
import graft.gateway.JValue.{JArr, JObj, JStr, num}

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
    * metadata records the partition spec (the reader prunes on it).
    */
  def write(spark: SparkSession, df: DataFrame, tableDir: String,
      partitionBy: Seq[String] = Nil): Unit =
    commit(spark, df, tableDir, SaveMode.Overwrite, partitionBy)

  /** Append `df` as a new snapshot: new data files + a new manifest, with
    * the previous snapshot's manifests carried forward and its entry kept
    * in the snapshot log — so time travel to the prior snapshot id works.
    */
  def append(spark: SparkSession, df: DataFrame, tableDir: String,
      partitionBy: Seq[String] = Nil): Unit =
    commit(spark, df, tableDir, SaveMode.Append, partitionBy)

  /** Stamp each column with its declared Iceberg field id (ordinal, the
    * same assignment as fieldsJson) so the parquet files carry
    * `parquet.field.id` like real Iceberg writers — the reader's
    * field-id-based projection of evolved (renamed) tables depends on it.
    * The session confs it pins are restored afterwards: this writer must
    * not change how the caller's OTHER parquet writes behave.
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
    // Session pins for the write, each restored afterwards:
    //  - field ids, for the reader's field-id projection;
    //  - UTC: time transforms are defined on UTC, as in real Iceberg, so a
    //    writer in any timezone (or a reader in a different one: the index
    //    evaluates the same derivation at UTC) sees identical partition
    //    values. Stored timestamp DATA is an instant (micros), unaffected.
    //    The pin MUST precede building `derived`: ResolveTimeZone stamps
    //    the session zone into date_format at analysis time (withColumn),
    //    not at execution;
    //  - INT64 micros timestamps, Iceberg's `timestamptz` encoding. Spark's
    //    default INT96 carries no statistics, so its files get no bounds.
    val pins = Map(
      "spark.sql.parquet.fieldId.write.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
    val prior = pins.keys.map(k => k -> spark.conf.getOption(k)).toMap
    pins.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val derived = fields.filter(_.transform != "identity").foldLeft(withIds) {
        (d, f) => d.withColumn(f.name, org.apache.spark.sql.functions.expr(
          PartitionSpec.deriveSql(f)))
      }
      val writer = derived.write.mode(mode)
      val names = fields.map(_.name)
      (if (names.nonEmpty) writer.partitionBy(names: _*) else writer).parquet(dir)
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** File-footer statistics for one parquet data file. */
  private final case class FileStats(
      recordCount: Long,
      lower: Map[String, String],
      upper: Map[String, String],
      nullCounts: Map[String, Long])

  /** Lift record count + per-column min/max/null-count from the parquet
    * footer. Row-group statistics merge with parquet's own
    * `mergeStatistics`, which orders values by the column's declared
    * order (unsigned bytes for strings), and decode once. Columns whose
    * statistics are absent in any non-empty block are dropped — pruning
    * must only ever see bounds that hold for every row of the file.
    */
  private def footerStats(conf: Configuration, p: Path): FileStats = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val recordCount = blocks.map(_.getRowCount).sum
      val merged = mutable.Map.empty[String, Statistics[_]]
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
        // A block with non-null rows but no min/max leaves the file's
        // bounds unknown; an all-null block leaves them unaffected.
        if (stats == null || !stats.isNumNullsSet || unitMismatch ||
            (!stats.hasNonNullValue && stats.getNumNulls < b.getRowCount)) broken += name
        else merged.getOrElseUpdate(name, Statistics.createStats(pt)).mergeStatistics(stats)
      }
      // INT96 / FIXED / unknown physical types publish neither bounds nor
      // null counts.
      val decoded = (merged.toMap -- broken).flatMap { case (n, s) =>
        val pt = s.`type`.getPrimitiveTypeName
        if (!s.hasNonNullValue) Some(n -> (s.getNumNulls, None))
        else for (lo <- decodeStat(pt, s.genericGetMin); hi <- decodeStat(pt, s.genericGetMax))
          yield n -> (s.getNumNulls, Some((lo.toString, hi.toString)))
      }
      FileStats(recordCount,
        decoded.collect { case (n, (_, Some((lo, _)))) => n -> lo },
        decoded.collect { case (n, (_, Some((_, hi)))) => n -> hi },
        decoded.map { case (n, (nulls, _)) => n -> nulls })
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

  /** Hive path segments `col=value` under data/ -> partition value map.
    * Spark escapes both sides of a segment, and decoding must be the
    * exact inverse of its escapePathName:
    * URLDecoder would additionally turn a literal '+' (which Spark does
    * NOT escape) into a space, corrupting values like "C++" — and the
    * hidden-transform pruning compares these values to PROVE absence, so
    * a corrupted value silently drops matching files. %XX sequences only.
    */
  private def partitionValuesOf(dataDir: Path, file: Path): Map[String, String] = {
    val rel = file.toString.stripPrefix(dataDir.toString).stripPrefix("/")
    rel.split('/').dropRight(1).flatMap { seg =>
      seg.split("=", 2) match {
        case Array(k, v) => Some(unescapePathValue(k) -> unescapePathValue(v))
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
      mode: SaveMode, partitionBy: Seq[String]): Unit = {
    val conf = IcebergLite.sessionHadoopConf(spark)
    // Appends carry the table forward; an overwrite starts a new history.
    val prior = if (mode == SaveMode.Append) priorMetadata(conf, tableDir) else None
    // Appends inherit the table's partition spec unless re-specified.
    val partCols =
      if (partitionBy.nonEmpty) partitionBy
      else prior.map(IcebergLite.partitionSpecDsl).getOrElse(Nil)
    val dataDir = s"$tableDir/data"
    val added = manifestNewFiles(conf, tableDir, new Path(dataDir)) {
      writeStampedParquet(spark, df, dataDir, mode, partCols)
    }
    val snapshotId = newSnapshotId()
    commitSnapshot(conf, tableDir, prior, snapshotId,
      Seq(writeManifest(conf, tableDir, snapshotId, 0, added, content = 0)),
      schemaFields = Some(fieldsJson(df.schema)), partCols = Some(partCols))
  }

  /** Run `writeData` into `dir` (data/ or a partition directory under it) and
    * return ADDED manifest entries, with footer statistics, for exactly
    * the data files it produced: the listing diff around the write, never
    * "whatever is unmanifested in data/". Debris from a commit that died
    * between its data write and its metadata swap must not ride along
    * with a later commit — that would duplicate the dead commit's rows.
    * Orphans stay unreferenced garbage instead, for an outside tool's
    * orphan-file cleanup, as in real Iceberg. Delete files
    * (delete-*.parquet) live under data/ too and are never data.
    */
  private def manifestNewFiles(conf: Configuration, tableDir: String, dir: Path)(
      writeData: => Unit): Seq[GenericRecord] = {
    val fs = dir.getFileSystem(conf)
    val before =
      if (fs.exists(dir)) listParquet(fs, dir).map(_.getPath.toString).toSet
      else Set.empty[String]
    writeData
    val dataPath = new Path(s"$tableDir/data")
    listParquet(fs, dir)
      .filter(s => !before.contains(s.getPath.toString) &&
        !s.getPath.getName.startsWith("delete-"))
      .map(s => entryRecord(1, 0, s.getPath.toString, s.getLen,
        partitionValuesOf(dataPath, s.getPath), footerStats(conf, s.getPath)))
  }

  /** One manifest entry (status 0=EXISTING / 1=ADDED) for a file whose
    * content is 0 = data, 1 = position deletes or 2 = equality deletes.
    */
  private def entryRecord(status: Int, content: Int, path: String, fileSize: Long,
      partition: Map[String, String], stats: FileStats): GenericRecord = {
    val dataFile = new GenericData.Record(
      ManifestEntrySchema.getField("data_file").schema())
    dataFile.put("content", content)
    dataFile.put("file_path", path)
    dataFile.put("file_format", "PARQUET")
    dataFile.put("record_count", stats.recordCount)
    dataFile.put("file_size_in_bytes", fileSize)
    dataFile.put("partition", partition.asJava)
    dataFile.put("lower_bounds", stats.lower.asJava)
    dataFile.put("upper_bounds", stats.upper.asJava)
    dataFile.put("null_value_counts",
      stats.nullCounts.map { case (k, v) => k -> Long.box(v) }.asJava)
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
    val meta = tableMetadata(conf, tableDir)
    val entries = IcebergLite.fileEntriesOf(conf, tableDir, meta, None)
    if (entries.exists(e => e.fileContent != 0 || e.manifestContent != 0))
      throw IcebergLite.ProbeError(
        s"Compaction refused: $tableDir has row-level delete files, and " +
          "rewriting data files would invalidate their (file, position) " +
          "coordinates. Apply or drop the deletes first.")

    val survivors = mutable.Buffer.empty[IcebergLite.FileEntry]
    val added = mutable.Buffer.empty[GenericRecord]
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
        val nOut = math.max(1,
          math.ceil(small.map(_.fileSize).sum.toDouble / targetBytes).toInt)
        added ++= manifestNewFiles(conf, tableDir, destDir) {
          val df = spark.read.parquet(small.map(_.path): _*).coalesce(nOut)
          writeStampedParquet(spark, df, destDir.toString, SaveMode.Append, Nil)
        }
        rewritten += small.size
      }
    }
    if (rewritten == 0) return CompactionResult(0, 0)

    val carried = survivors.toSeq.map(e =>
      entryRecord(0, 0, e.path, e.fileSize, e.partitionValues,
        FileStats(e.recordCount, e.lowerBounds, e.upperBounds, e.nullCounts)))
    val snapshotId = newSnapshotId()
    commitSnapshot(conf, tableDir, Some(meta), snapshotId,
      Seq(writeManifest(conf, tableDir, snapshotId, 0, carried ++ added, content = 0)),
      carryPriorManifests = false, operation = "replace")
    CompactionResult(rewritten, added.size)
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
    val meta = tableMetadata(conf, tableDir)
    val entries = IcebergLite.fileEntriesOf(conf, tableDir, meta, None)
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
    val merged = IcebergLite.scan(spark, tableDir, applyDeletes = true)
    val dataDir = s"$tableDir/data"
    val added = manifestNewFiles(conf, tableDir, new Path(dataDir)) {
      writeStampedParquet(spark, merged, dataDir, SaveMode.Append,
        IcebergLite.partitionSpecDsl(meta))
    }
    val snapshotId = newSnapshotId()
    commitSnapshot(conf, tableDir, Some(meta), snapshotId,
      Seq(writeManifest(conf, tableDir, snapshotId, 0, added, content = 0)),
      carryPriorManifests = false, operation = "replace")
    CompactionResult(liveData.size, added.size)
  }

  /** Commit a position-delete snapshot: writes the (file_path, pos) rows as
    * a real parquet delete file plus a content=1 manifest, carrying the
    * prior snapshot's manifests forward. `IcebergLite.scan(...,
    * applyDeletes = true)` then merges them on read.
    */
  def addPositionDeletes(spark: SparkSession, tableDir: String,
      deletes: Seq[(String, Long)]): Unit = {
    require(deletes.nonEmpty, "addPositionDeletes needs at least one (file, pos)")
    import spark.implicits._
    commitDeletes(spark, tableDir, deletes.toDF("file_path", "pos"), deletes.length.toLong,
      fileContent = 1)
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
      deleteRows: DataFrame): Unit = {
    require(deleteRows.columns.nonEmpty, "equality delete needs at least one column")
    val nRows = deleteRows.count()
    require(nRows > 0, "equality delete needs at least one row")
    commitDeletes(spark, tableDir, deleteRows, nRows, fileContent = 2)
  }

  private def commitDeletes(spark: SparkSession, tableDir: String, rows: DataFrame,
      nRows: Long, fileContent: Int): Unit = {
    val conf = IcebergLite.sessionHadoopConf(spark)
    val prior = tableMetadata(conf, tableDir)
    val snapshotId = newSnapshotId()
    commitSnapshot(conf, tableDir, Some(prior), snapshotId,
      Seq(stageDeleteFile(conf, tableDir, snapshotId, 0, rows, nRows, fileContent)))
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
    val prior = tableMetadata(conf, tableDir)
    val snapshotId = newSnapshotId()
    // Equality-delete file: the batch's distinct keys.
    val delRows = df.select(keyCols.map(org.apache.spark.sql.functions.col): _*).distinct()
    val nDel = delRows.count()
    require(nDel > 0, "upsert batch is empty")
    val deletes = stageDeleteFile(conf, tableDir, snapshotId, 1, delRows, nDel, fileContent = 2)
    val dataDir = s"$tableDir/data"
    val added = manifestNewFiles(conf, tableDir, new Path(dataDir)) {
      writeStampedParquet(spark, df, dataDir, SaveMode.Append,
        IcebergLite.partitionSpecDsl(prior))
    }
    commitSnapshot(conf, tableDir, Some(prior), snapshotId,
      Seq(writeManifest(conf, tableDir, snapshotId, 0, added, content = 0), deletes),
      operation = "overwrite")
  }

  /** Write `rows` as the snapshot's delete file (content 1 = position, 2 =
    * equality), `data/delete-<snapshotId>.parquet` — the reader resolves
    * an equality delete's commit snapshot from that name — and manifest
    * it in delete manifest `index` of the snapshot.
    */
  private def stageDeleteFile(conf: Configuration, tableDir: String, snapshotId: Long,
      index: Int, rows: DataFrame, nRows: Long, fileContent: Int): (String, Long, Int) = {
    // Write the delete rows through Spark, then promote the single part
    // file to a stable name under data/.
    val tmpPath = new Path(s"$tableDir/tmp-delete-$snapshotId")
    rows.coalesce(1).write.parquet(tmpPath.toString)
    val fs = tmpPath.getFileSystem(conf)
    val delFile = new Path(s"$tableDir/data/delete-$snapshotId.parquet")
    fs.rename(listParquet(fs, tmpPath).head.getPath, delFile)
    fs.delete(tmpPath, true)
    // Manifest the filesystem-qualified path, the form the data-file
    // listings of later commits compare against.
    writeManifest(conf, tableDir, snapshotId, index, Seq(entryRecord(1, fileContent,
      fs.makeQualified(delFile).toString, fs.getFileStatus(delFile).getLen, Map.empty,
      FileStats(nRows, Map.empty, Map.empty, Map.empty))), content = 1)
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

  private def newSnapshotId(): Long = math.abs(UUID.randomUUID().getMostSignificantBits)

  /** Write manifest `index` of snapshot `snapshotId`; returns its
    * manifest-list entry (path, length, content: 0 = data, 1 = deletes).
    */
  private def writeManifest(conf: Configuration, tableDir: String, snapshotId: Long,
      index: Int, entries: Seq[GenericRecord], content: Int): (String, Long, Int) = {
    val p = new Path(s"$tableDir/metadata/manifest-$snapshotId-m$index.avro")
    (p.toString, writeAvro(conf, p, ManifestEntrySchema, entries), content)
  }

  /** The table's current metadata, loaded once per commit. */
  private def priorMetadata(conf: Configuration, tableDir: String): Option[JObj] =
    IcebergLite.latestMetadataPath(conf, tableDir).map(IcebergLite.readMetadataJson(conf, _))

  private def tableMetadata(conf: Configuration, tableDir: String): JObj =
    priorMetadata(conf, tableDir)
      .getOrElse(throw IcebergLite.ProbeError(s"No Iceberg table at $tableDir"))

  /** `fields` of the lite schema (name/required/type per the Iceberg
    * spec's schema JSON; ids are ordinal — this writer never renames, so
    * ordinal ids are stable).
    */
  private def fieldsJson(schema: StructType): JValue =
    JArr(schema.fields.toVector.zipWithIndex.map { case (f, i) =>
      JObj("id" -> num(i + 1L), "name" -> JStr(f.name),
        "required" -> JValue.JBool(!f.nullable), "type" -> JStr(icebergTypeName(f.dataType)))
    })

  /** Commit a snapshot whose new manifests are `newManifests` (path,
    * length, content): its manifest list carries the prior snapshot's
    * manifests first — except for REPLACE commits (compaction), which
    * write a complete manifest themselves; carrying the prior ones would
    * resurrect the rewritten files.
    */
  private def commitSnapshot(conf: Configuration, tableDir: String,
      prior: Option[JObj], snapshotId: Long, newManifests: Seq[(String, Long, Int)],
      carryPriorManifests: Boolean = true, operation: String = "append",
      schemaFields: Option[JValue] = None, partCols: Option[Seq[String]] = None): Unit = {
    val carried =
      if (!carryPriorManifests) Nil
      else prior.toSeq.flatMap(m => IcebergLite.currentManifests(conf, tableDir, m)).map { m =>
        val p = new Path(m.path)
        (m.path, p.getFileSystem(conf).getFileStatus(p).getLen, m.content)
      }
    val manifestList = new Path(s"$tableDir/metadata/snap-$snapshotId-1.avro")
    writeAvro(conf, manifestList, ManifestFileSchema, (carried ++ newManifests).map {
      case (p, len, content) => manifestFileRecord(p, len, content, snapshotId)
    })
    val nowMs = System.currentTimeMillis()
    // Lineage per the spec: each snapshot records the snapshot it was
    // committed on top of; the history relation chases this chain.
    val parent = prior.flatMap(IcebergLite.currentSnapshotIdOf).map("parent-snapshot-id" -> num(_))
    val snapshot = JObj(Vector("snapshot-id" -> num(snapshotId)) ++ parent ++ Vector(
      "timestamp-ms" -> num(nowMs),
      "manifest-list" -> JStr(manifestList.toString),
      "summary" -> JObj("operation" -> JStr(operation))))
    writeMetadata(conf, tableDir, prior, nowMs, snapshotId, newSnapshot = Some(snapshot),
      schemaFields = schemaFields, partCols = partCols)
  }

  /** Write the table's next metadata JSON — the one place that builds it.
    * Whatever the commit does not replace is carried forward from `prior`
    * as stored: the snapshots, the snapshot log, the refs, the partition
    * spec and the current schema's `fields`. `newSnapshot` joins the
    * snapshot list, and `currentId` becomes the current snapshot, entered
    * in the snapshot log (when each snapshot became current: the
    * `history` relation reads it, and it differs from the commit times
    * after a rollback) unless `logCurrent` is off.
    */
  private def writeMetadata(conf: Configuration, tableDir: String, prior: Option[JObj],
      nowMs: Long, currentId: Long, newSnapshot: Option[JObj] = None,
      logCurrent: Boolean = true, refs: Option[Seq[(String, Long, String)]] = None,
      schemaFields: Option[JValue] = None, partCols: Option[Seq[String]] = None): Unit = {
    val fields = schemaFields.orElse(prior.flatMap(IcebergLite.currentSchemaOf).map(_.fieldsJson))
    // A spec field's source-id is the field id of its source column (left
    // out when the schema does not name that column).
    val fieldIds = fields.toSeq.flatMap(IcebergLite.schemaFieldsOf).map(f => f.name -> f.id).toMap
    val spec = partCols.getOrElse(prior.toSeq.flatMap(IcebergLite.partitionSpecDsl))
      .map(PartitionSpec.parse).zipWithIndex.map { case (f, i) =>
        JObj(Vector("name" -> JStr(f.name), "transform" -> JStr(f.transform),
          "source-name" -> JStr(f.source)) ++
          fieldIds.get(f.source).map(id => "source-id" -> num(id)) ++
          Vector("field-id" -> num(1000L + i)))
      }
    val log = prior.toSeq.flatMap(IcebergLite.snapshotLogOf) ++
      (if (logCurrent) Seq((nowMs, currentId)) else Nil)
    val metadata = JObj(Vector(
      "format-version" -> num(2L),
      "table-uuid" -> JStr(UUID.randomUUID().toString),
      "location" -> JStr(tableDir),
      "last-updated-ms" -> num(nowMs)) ++
      fields.toVector.flatMap(fs => Vector(
        "current-schema-id" -> num(0L),
        "schemas" -> JArr(Vector(JObj("type" -> JStr("struct"), "schema-id" -> num(0L),
          "fields" -> fs))))) ++
      Vector(
        "default-spec-id" -> num(0L),
        "partition-specs" -> JArr(Vector(
          JObj("spec-id" -> num(0L), "fields" -> JArr(spec.toVector)))),
        "current-snapshot-id" -> num(currentId),
        "snapshots" -> JArr(prior.toVector.flatMap(IcebergLite.snapshotsOf) ++ newSnapshot),
        "snapshot-log" -> JArr(log.toVector.map { case (ts, id) =>
          JObj("timestamp-ms" -> num(ts), "snapshot-id" -> num(id))
        }),
        "refs" -> JObj(refs.getOrElse(prior.toSeq.flatMap(IcebergLite.refsOf)).toVector.map {
          case (name, id, tpe) => name -> JObj("snapshot-id" -> num(id), "type" -> JStr(tpe))
        })))
    val metaDir = new Path(s"$tableDir/metadata")
    val fs = metaDir.getFileSystem(conf)
    val version = fs.listStatus(metaDir).count(_.getPath.getName.endsWith(".metadata.json"))
    val out = fs.create(new Path(metaDir, f"$version%05d-${UUID.randomUUID()}.metadata.json"), true)
    try out.write(Json.render(metadata).getBytes("UTF-8")) finally out.close()
  }

  // ---- metadata-only commits: refs + rollback ---------------------------

  private val RefNameRe = "^[A-Za-z0-9._-]{1,255}$".r

  /** Create or move a named ref — Iceberg's tags ("keep this snapshot
    * addressable as v1.0") and branches. Metadata-only commit. `main` is
    * reserved: it always means the current snapshot.
    */
  def setRef(spark: SparkSession, tableDir: String, name: String,
      snapshotId: Long, refType: String = "tag"): Unit = {
    require(RefNameRe.pattern.matcher(name).matches,
      s"ref name must match ${RefNameRe.pattern} (got '$name')")
    require(name != "main", "'main' is reserved for the current snapshot")
    require(refType == "tag" || refType == "branch",
      s"ref type must be 'tag' or 'branch', got '$refType'")
    val conf = IcebergLite.sessionHadoopConf(spark)
    val meta = tableMetadata(conf, tableDir)
    require(IcebergLite.snapshotOf(meta, snapshotId).nonEmpty,
      s"snapshot $snapshotId not found at $tableDir")
    val currentId = IcebergLite.currentSnapshotIdOf(meta)
      .getOrElse(throw IcebergLite.ProbeError("metadata has no current-snapshot-id"))
    val refs = IcebergLite.refsOf(meta).filterNot(_._1 == name) :+ ((name, snapshotId, refType))
    writeMetadata(conf, tableDir, Some(meta), System.currentTimeMillis(), currentId,
      logCurrent = false, refs = Some(refs))
  }

  /** Roll the table's current pointer back (or forward) to an existing
    * snapshot — Iceberg's `rollback_to_snapshot` semantics: a metadata-only
    * commit, every snapshot stays addressable, so the rollback itself can
    * be undone by rolling "back" to the newer snapshot id. The snapshot
    * list is untouched but the history gains a new made-current entry
    * (exactly what distinguishes `history` from `snapshots`).
    */
  def rollback(spark: SparkSession, tableDir: String, toSnapshotId: Long): Unit = {
    val conf = IcebergLite.sessionHadoopConf(spark)
    val meta = tableMetadata(conf, tableDir)
    require(IcebergLite.snapshotOf(meta, toSnapshotId).nonEmpty,
      s"snapshot $toSnapshotId not found at $tableDir")
    writeMetadata(conf, tableDir, Some(meta), System.currentTimeMillis(), toSnapshotId)
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
