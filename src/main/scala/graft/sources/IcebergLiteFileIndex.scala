package graft.sources

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, TypeUtils}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One live data file of an Iceberg-lite snapshot, with the manifest-carried
  * pruning inputs: Hive/identity partition values and per-column min/max +
  * null-count statistics (strings, decoded into each predicate's type).
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
    columnTypes: Map[String, DataType],
    hiddenFields: Seq[PartitionField] = Nil) extends FileIndex {
  import IcebergLiteFileIndex._

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
        case None | Some(HiveDefault) => null
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
    val referenced = dataFilters.flatMap(_.references.map(_.name)).toSet
    val derived = hiddenFields.filter(h => referenced(h.source))
      .flatMap(h => derivation(h).map(h -> _))
    val kept = files.filter { f =>
      partPred.forall(_.eval(partitionRow(f))) &&
        !dataFilters.exists(e => canSkip(e, f, derived))
    }
    kept.groupBy(partitionRow).toSeq.map { case (row, fs) =>
      PartitionDirectory(row, fs.map(f =>
        new FileStatus(f.size, false, 1, 128L * 1024 * 1024, 0L, new Path(f.path))).toArray)
    }
  }

  /** The writer's own derivation of hidden field `h`
    * ([[PartitionSpec.deriveSql]]), resolved over its source column and
    * bound to a one-column row, with every time-zone-aware node pinned to
    * UTC as the writer pins its session. Projecting a literal through it
    * gives the partition value the writer derived for that value, so
    * writer and reader agree by construction. None when it does not
    * resolve (the field then prunes nothing).
    */
  private def derivation(h: PartitionField): Option[Expression] =
    columnTypes.get(h.source).flatMap { dt =>
      val source = AttributeReference(h.source, dt)()
      Try {
        val parsed = spark.sessionState.sqlParser.parseExpression(PartitionSpec.deriveSql(h))
        spark.sessionState.executePlan(
          Project(Seq(Alias(parsed, h.name)()), LocalRelation(source))).analyzed
      }.toOption.collect { case Project(Seq(Alias(e, _)), _) =>
        BindReferences.bindReference(e, Seq(source)).transform {
          case tz: TimeZoneAwareExpression => tz.withTimeZone("UTC")
        }
      }
    }
}

/** File skipping straight off the Catalyst filter expressions: one walker,
  * one ordering. Each leaf reduces to (column, op, values), with Catalyst's
  * internal values (UTF8String for strings, days for DATE, micros for
  * TIMESTAMP), and asks every piece of evidence the file carries about
  * that column whether a row could satisfy it:
  *  - the manifest bounds, exact;
  *  - each hidden partition field over that column, as the range [v, v]
  *    of the file's transformed value.
  * Bounds and partition values decode into the leaf's type and compare
  * under Catalyst's own ordering for it, so strings compare by unsigned
  * bytes, as Parquet orders its statistics. Conservative in every unknown
  * case: a file is skipped only when the evidence PROVES no row can match.
  */
object IcebergLiteFileIndex {

  private val HiveDefault = "__HIVE_DEFAULT_PARTITION__"

  /** Comparison symbols, each mapped to its form with the sides swapped. */
  private val Flipped = Map("=" -> "=", "<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=")

  /** A comparison leaf, column on the left: `=` with several values is IN. */
  private final case class Leaf(column: String, op: String, dataType: DataType, values: Seq[Any])

  private def leaf(e: Expression): Option[Leaf] = e match {
    case In(a: AttributeReference, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
      Some(Leaf(a.name, "=", a.dataType, vs.map(_.asInstanceOf[Literal].value)))
    case InSet(a: AttributeReference, vs) if vs.nonEmpty =>
      Some(Leaf(a.name, "=", a.dataType, vs.toSeq))
    case c: BinaryComparison if Flipped.contains(c.symbol) => (c.left, c.right) match {
      case (a: AttributeReference, l: Literal) => Some(Leaf(a.name, c.symbol, l.dataType, Seq(l.value)))
      case (l: Literal, a: AttributeReference) =>
        Some(Leaf(a.name, Flipped(c.symbol), l.dataType, Seq(l.value)))
      case _ => None
    }
    case _ => None
  }

  /** True when no row of `f` can satisfy `e`. */
  private def canSkip(e: Expression, f: LiteDataFile,
      derived: Seq[(PartitionField, Expression)]): Boolean = e match {
    case And(l, r) => canSkip(l, f, derived) || canSkip(r, f, derived)
    case Or(l, r) => canSkip(l, f, derived) && canSkip(r, f, derived)
    case IsNull(a: AttributeReference) => f.nullCounts.get(a.name).contains(0L)
    case IsNotNull(a: AttributeReference) =>
      f.nullCounts.get(a.name).exists(n => n > 0 && n == f.recordCount)
    case _ => leaf(e).exists { l =>
      excluded(l.dataType, f.lower.get(l.column), f.upper.get(l.column), l.op, l.values) ||
        derived.exists { case (h, d) => h.source == l.column && hiddenExcludes(h, d, l, f) }
    }
  }

  /** The leaf projected through hidden field `h`'s derivation `d` onto the
    * file's partition value. A time transform is monotone over a date or
    * timestamp source, so a strict range becomes its non-strict form;
    * every other projection answers only `=` and IN. A value whose
    * projection throws keeps the file.
    */
  private def hiddenExcludes(h: PartitionField, d: Expression, l: Leaf,
      f: LiteDataFile): Boolean = {
    val monotone = PartitionSpec.TimeFormats.contains(h.transform) &&
      (l.dataType match {
        case DateType | TimestampType | TimestampNTZType => true
        case _ => false
      })
    val op = if (monotone && (l.op == "<" || l.op == ">")) l.op + "=" else l.op
    val fileValue = f.partitionValues.get(h.name).filter(_ != HiveDefault)
    (op == "=" || monotone) && fileValue.nonEmpty && l.values.forall { v =>
      // Catalyst's = holds between -0.0 and 0.0, whose derivations differ.
      val equal = v match {
        case x: Double if x == 0.0 => Seq(0.0, -0.0)
        case x: Float if x == 0.0f => Seq(0.0f, -0.0f)
        case _ => Seq(v)
      }
      val projected = equal.map(x => Try(d.eval(InternalRow(x))).getOrElse(null))
      excluded(d.dataType, fileValue, fileValue, op, projected)
    }
  }

  /** True when the range [lower, upper] (decoded into `dt`; an end may be
    * unknown) holds no value x with `x op v` for any v in `values`.
    */
  private def excluded(dt: DataType, lower: Option[String], upper: Option[String],
      op: String, values: Seq[Any]): Boolean = {
    val lo = lower.flatMap(catalystValue(_, dt))
    val hi = upper.flatMap(catalystValue(_, dt))
    (lo.nonEmpty || hi.nonEmpty) && {
      val ord = TypeUtils.getInterpretedOrdering(dt)
      values.forall(v => v != null && (op match {
        case "=" => lo.exists(ord.gt(_, v)) || hi.exists(ord.lt(_, v))
        case "<" => lo.exists(ord.gteq(_, v))
        case "<=" => lo.exists(ord.gt(_, v))
        case ">" => hi.exists(ord.lteq(_, v))
        case ">=" => hi.exists(ord.lt(_, v))
      }))
    }
  }

  /** A manifest bound or partition value as the Catalyst value of `dt`.
    * Bounds store the Parquet-physical encoding (longs for integral, date
    * days and timestamp micros; doubles; UTF-8 strings), which is the
    * internal form Catalyst uses for these types. None for other types.
    */
  private def catalystValue(s: String, dt: DataType): Option[Any] =
    Try[Any](dt match {
      case BooleanType => s.toBoolean
      case ByteType => s.toByte
      case ShortType => s.toShort
      case IntegerType | DateType => s.toInt
      case LongType | TimestampType | TimestampNTZType => s.toLong
      case FloatType => s.toFloat
      case DoubleType => s.toDouble
      case StringType => UTF8String.fromString(s)
      case _ => null
    }).toOption.flatMap(Option(_))
}
