package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One live data file of an Iceberg-lite snapshot, with the manifest-carried
  * pruning inputs: Hive/identity partition values and per-column min/max +
  * null-count statistics (strings, typed lazily against the table schema).
  */
final case class LiteDataFile(
    path: String,
    size: Long,
    recordCount: Long,
    partitionValues: Map[String, String],
    lower: Map[String, String],
    upper: Map[String, String],
    nullCounts: Map[String, Long])

/** Spark [[FileIndex]] over an Iceberg-lite snapshot's manifest entries.
  *
  * This is where 100 TB queries stop being full-table scans: Catalyst hands
  * `listFiles` the query's partition filters and data filters at planning
  * time, and files are dropped using the partition tuple and the
  * manifest-carried column bounds — before any scan task is scheduled. The
  * reference gets the equivalent from DuckDB's iceberg extension
  * (reference README.md:198,233 "partition pruning / file skipping"); here
  * the same pruning plugs into Spark's own scan planning, so
  * FileSourceScanExec metrics (numFiles, filesSize) reflect it directly.
  */
final class IcebergLiteFileIndex(
    spark: SparkSession,
    tablePath: Path,
    files: Seq[LiteDataFile],
    override val partitionSchema: StructType,
    statTypes: Map[String, DataType],
    hiddenFields: Seq[PartitionField] = Nil) extends FileIndex {

  // Time transforms are defined on UTC (matching the writer's pinned-UTC
  // derive and real Iceberg's spec) — NOT the reader session's zone, which
  // would make pruning results depend on who is asking.
  private val transformZone = java.time.ZoneOffset.UTC

  override def rootPaths: Seq[Path] = Seq(tablePath)

  override def inputFiles: Array[String] = files.map(_.path).toArray

  override def refresh(): Unit = ()

  override lazy val sizeInBytes: Long = files.map(_.size).sum

  /** Rows in the indexed files, exact from the manifests' record counts. */
  def recordCount: Long = files.map(_.recordCount).sum

  private val fieldTypes: Map[String, DataType] =
    partitionSchema.fields.map(f => f.name -> f.dataType).toMap

  /** Typed partition tuple for a file, in partitionSchema order. */
  private def partitionRow(f: LiteDataFile): InternalRow =
    InternalRow.fromSeq(partitionSchema.fields.toSeq.map { field =>
      f.partitionValues.get(field.name) match {
        case None | Some("__HIVE_DEFAULT_PARTITION__") => null
        case Some(v) => castPartitionValue(v, field.dataType)
      }
    })

  private def castPartitionValue(v: String, dt: DataType): Any = dt match {
    case LongType => v.toLong
    case IntegerType => v.toInt
    case DoubleType => v.toDouble
    case BooleanType => v.toBoolean
    case DateType => DateTimeUtils.stringToDate(UTF8String.fromString(v)).getOrElse(null)
    case _ => UTF8String.fromString(v)
  }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val partPred = partitionFilters.reduceOption(And).map { expr =>
      val bound = expr.transform {
        case a: AttributeReference =>
          BoundReference(partitionSchema.fieldIndex(a.name),
            fieldTypes(a.name), nullable = true)
      }
      Predicate.createInterpreted(bound)
    }
    val kept = files.filter { f =>
      val row = partitionRow(f)
      partPred.forall(_.eval(row)) &&
        !dataFilters.exists(e => StatsPruning.canSkip(e, f)) &&
        !dataFilters.exists(e => hiddenFields.exists(h => canSkipHidden(e, h, f)))
    }
    kept.groupBy(partitionRow).toSeq.map { case (row, fs) =>
      PartitionDirectory(row, fs.map(f =>
        new FileStatus(f.size, false, 1, 128L * 1024 * 1024, 0L, new Path(f.path))).toArray)
    }
  }

  // ---- hidden-transform pruning ------------------------------------------
  // Queries filter the SOURCE column (hidden partitioning's whole point);
  // the predicate is projected through the transform onto the file's
  // partition value. Conservative throughout: any shape or type outside
  // the mapping keeps the file.

  /** True when `h`'s transform PROVES no row of `f` can satisfy `e`. */
  private def canSkipHidden(e: Expression, h: PartitionField, f: LiteDataFile): Boolean = {
    val fileVal = f.partitionValues.get(h.name)
    if (fileVal.isEmpty || fileVal.contains("__HIVE_DEFAULT_PARTITION__")) return false
    val v = fileVal.get
    e match {
      case And(l, r) => canSkipHidden(l, h, f) || canSkipHidden(r, h, f)
      case Or(l, r) => canSkipHidden(l, h, f) && canSkipHidden(r, h, f)
      case EqualTo(a: AttributeReference, lit: Literal) if a.name == h.source =>
        transformOf(h, lit).exists(_ != v)
      case EqualTo(lit: Literal, a: AttributeReference) if a.name == h.source =>
        transformOf(h, lit).exists(_ != v)
      case In(a: AttributeReference, lits) if a.name == h.source &&
          lits.forall(_.isInstanceOf[Literal]) =>
        val ts = lits.map(l => transformOf(h, l.asInstanceOf[Literal]))
        ts.nonEmpty && ts.forall(_.exists(_ != v))
      // Range predicates project only through ORDER-PRESERVING transforms
      // (the time family: fixed-width digit strings where lexicographic
      // == chronological); bucket scrambles order and truncate's string
      // compare can diverge from UTF8String binary order on non-ASCII,
      // so ranges never prune those.
      case GreaterThan(a: AttributeReference, lit: Literal)
          if a.name == h.source && timeTransform(h) =>
        transformOf(h, lit).exists(d => v < d) // a > t: need T(a) >= T(t)
      case GreaterThanOrEqual(a: AttributeReference, lit: Literal)
          if a.name == h.source && timeTransform(h) =>
        transformOf(h, lit).exists(d => v < d)
      case LessThan(a: AttributeReference, lit: Literal)
          if a.name == h.source && timeTransform(h) =>
        transformOf(h, lit).exists(d => v > d) // a < t: need T(a) <= T(t)
      case LessThanOrEqual(a: AttributeReference, lit: Literal)
          if a.name == h.source && timeTransform(h) =>
        transformOf(h, lit).exists(d => v > d)
      case GreaterThan(lit: Literal, a: AttributeReference)
          if a.name == h.source && timeTransform(h) =>
        transformOf(h, lit).exists(d => v > d) // t > a  ==  a < t
      case LessThan(lit: Literal, a: AttributeReference)
          if a.name == h.source && timeTransform(h) =>
        transformOf(h, lit).exists(d => v < d)
      case _ => false
    }
  }

  private def timeTransform(h: PartitionField): Boolean =
    PartitionSpec.TimeFormats.contains(h.transform)

  /** The literal's partition value under the transform, as the same string
    * the writer's Hive path produced — None when the literal's type is
    * outside the bit-reproducible mapping (no pruning then).
    *
    * day: 'yyyy-MM-dd' at UTC (lexicographic == chronological, so the
    * range cases above compare strings). bucket: md5-prefix mod N of
    * the value's plain string form, matching `CAST(x AS STRING)` only for
    * integral and string types — others stay unpruned.
    */
  private def transformOf(h: PartitionField, lit: Literal): Option[String] =
    if (lit.value == null) None
    else h.transform match {
      case t @ ("year" | "month" | "day" | "hour") =>
        // TIMESTAMP (with zone): the writer derives under a pinned-UTC
        // session, so the projection renders the instant at UTC too.
        // TIMESTAMP_NTZ is deliberately unmapped (its micros are wall
        // clock, not an instant) — conservative no-prune.
        val local: Option[java.time.LocalDateTime] = lit.dataType match {
          case TimestampType =>
            val micros = lit.value.asInstanceOf[Long]
            Some(java.time.Instant
              .ofEpochSecond(Math.floorDiv(micros, 1000000L),
                Math.floorMod(micros, 1000000L) * 1000L)
              .atZone(transformZone).toLocalDateTime)
          case DateType =>
            Some(java.time.LocalDate.ofEpochDay(lit.value.asInstanceOf[Int].toLong)
              .atStartOfDay)
          case _ => None
        }
        local.map(_.format(java.time.format.DateTimeFormatter.ofPattern(
          PartitionSpec.TimeFormats(t))))
      case t if t.startsWith("bucket[") =>
        val n = h.bucketCount.get
        (lit.dataType match {
          case LongType => Some(lit.value.asInstanceOf[Long].toString)
          case IntegerType => Some(lit.value.asInstanceOf[Int].toString)
          case ShortType => Some(lit.value.asInstanceOf[Short].toString)
          case StringType => Some(lit.value.toString)
          case _ => None
        }).map(s => PartitionSpec.bucketOf(s, n).toString)
      case t if t.startsWith("truncate[") =>
        // Equality-only projection, ASCII-only: Spark's substring slices
        // codepoints and UTF8String compares bytes — both coincide with
        // java.lang.String on ASCII, and nowhere else that matters here.
        val w = PartitionSpec.truncWidth(h.transform).get
        lit.dataType match {
          case StringType =>
            val s = lit.value.toString
            if (s.forall(_ < 128)) Some(s.substring(0, math.min(w, s.length)))
            else None
          case _ => None
        }
      case _ => None
    }
}

/** Min/max + null-count file skipping straight off the Catalyst filter
  * expressions (literal values arrive Catalyst-internal: UTF8String for
  * strings, days for DATE, micros for TIMESTAMP — exactly the encoding the
  * bounds store). Conservative in every unknown case: a file is skipped
  * only when the bounds PROVE no row can match.
  */
object StatsPruning {

  def canSkip(e: Expression, f: LiteDataFile): Boolean = e match {
    case And(l, r) => canSkip(l, f) || canSkip(r, f)
    case Or(l, r) => canSkip(l, f) && canSkip(r, f)
    case EqualTo(a: AttributeReference, l: Literal) => outside(a.name, l, f)
    case EqualTo(l: Literal, a: AttributeReference) => outside(a.name, l, f)
    case GreaterThan(a: AttributeReference, l: Literal) => // a > v: skip when max <= v
      cmpUpper(a.name, l, f).exists(_ <= 0)
    case GreaterThan(l: Literal, a: AttributeReference) => // v > a: skip when min >= v
      cmpLower(a.name, l, f).exists(_ >= 0)
    case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
      cmpUpper(a.name, l, f).exists(_ < 0)
    case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
      cmpLower(a.name, l, f).exists(_ > 0)
    case LessThan(a: AttributeReference, l: Literal) => // a < v: skip when min >= v
      cmpLower(a.name, l, f).exists(_ >= 0)
    case LessThan(l: Literal, a: AttributeReference) => // v < a: skip when max <= v
      cmpUpper(a.name, l, f).exists(_ <= 0)
    case LessThanOrEqual(a: AttributeReference, l: Literal) =>
      cmpLower(a.name, l, f).exists(_ > 0)
    case LessThanOrEqual(l: Literal, a: AttributeReference) =>
      cmpUpper(a.name, l, f).exists(_ < 0)
    case In(a: AttributeReference, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
      vs.forall(v => outside(a.name, v.asInstanceOf[Literal], f))
    case InSet(a: AttributeReference, vs) if vs.nonEmpty =>
      vs.forall(v => outside(a.name, Literal.create(v, a.dataType), f))
    case IsNull(a: AttributeReference) => f.nullCounts.get(a.name).contains(0L)
    case IsNotNull(a: AttributeReference) =>
      f.nullCounts.get(a.name).exists(n => n > 0 && n == f.recordCount)
    case _ => false
  }

  /** v provably outside [min, max] of the file's column. */
  private def outside(c: String, l: Literal, f: LiteDataFile): Boolean =
    cmpUpper(c, l, f).exists(_ < 0) || cmpLower(c, l, f).exists(_ > 0)

  /** sign(file-min - v); None when no bound / not comparable. */
  private def cmpLower(c: String, l: Literal, f: LiteDataFile): Option[Int] =
    f.lower.get(c).flatMap(b => cmp(b, l))

  /** sign(file-max - v). */
  private def cmpUpper(c: String, l: Literal, f: LiteDataFile): Option[Int] =
    f.upper.get(c).flatMap(b => cmp(b, l))

  /** Bounds store the parquet-physical encoding (longs for integral, date
    * days, timestamp micros; doubles; raw strings) — the same shapes
    * Catalyst literals use internally.
    */
  private def cmp(bound: String, l: Literal): Option[Int] =
    if (l.value == null) None
    else (l.dataType, l.value) match {
      case (ByteType | ShortType | IntegerType | LongType | DateType | _: TimestampType, n: Number) =>
        Some(java.lang.Long.compare(bound.toLong, n.longValue()))
      case (FloatType, n: Number) =>
        Some(java.lang.Double.compare(bound.toDouble, n.doubleValue()))
      case (DoubleType, n: Number) =>
        Some(java.lang.Double.compare(bound.toDouble, n.doubleValue()))
      case (StringType, s: UTF8String) => Some(bound.compareTo(s.toString))
      case (BooleanType, b: java.lang.Boolean) =>
        Some(java.lang.Boolean.compare(bound.toBoolean, b))
      case _ => None
    }
}
