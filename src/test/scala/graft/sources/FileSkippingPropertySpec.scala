package graft.sources

import java.time.{Instant, LocalDate}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** Differential property test of Iceberg-lite file skipping: for random
  * tables spread over several files and row groups, unpartitioned or
  * behind hidden day/month/bucket/truncate fields, every random predicate
  * counts the same rows through `IcebergLite.scan` (manifest bounds and
  * partition values skip files) as through `spark.read.parquet` over the
  * same data files (no skipping). Values include supplementary, high-BMP
  * and empty strings, integer extremes, NaN, ±0.0, ±Inf and nulls.
  * Generators are sampled directly with a fixed seed (the
  * scalatest-scalacheck bridge is not in the offline cache).
  */
class FileSkippingPropertySpec extends AnyFunSuite with SparkFixture {

  private def sample[A](g: Gen[A], seed: Long): A =
    Iterator.from(0).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed * 7919L + i)))
      .next()

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("i", IntegerType),
    StructField("d", DoubleType), StructField("s", StringType),
    StructField("dt", DateType), StructField("ts", TimestampType)))

  private val longs: Gen[Any] = Gen.frequency(
    3 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, -1L, 1L),
    7 -> Gen.chooseNum(-50L, 50L))
  private val ints: Gen[Any] = Gen.frequency(
    3 -> Gen.oneOf(Int.MinValue, Int.MaxValue, 0, -1, 1),
    7 -> Gen.chooseNum(-50, 50))
  private val doubles: Gen[Any] = Gen.frequency(
    5 -> Gen.oneOf(Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MinPositiveValue, Double.MaxValue, -Double.MaxValue),
    5 -> Gen.chooseNum(-20, 20).map(_ * 0.5))
  // Supplementary (emoji, U+1D11E), high-BMP (U+E000 and above, which
  // UTF-16 orders after every supplementary character and UTF-8 before),
  // empty, multibyte and path-escaped strings.
  private val strings: Gen[Any] = Gen.oneOf("", "a", "ab", "abc", "b", "zz", "é",
    "日本", "\uE000", "～", "\uFFFD", "😀", "𝄞x", "a/b", "c=d%")
  private val dates: Gen[Any] = Gen.frequency(
    1 -> Gen.oneOf(LocalDate.of(1900, 1, 1), LocalDate.of(1970, 1, 1), LocalDate.of(2100, 12, 31)),
    6 -> Gen.chooseNum(-40, 40).map(n => LocalDate.of(2024, 1, 15).plusDays(n.toLong)))
  private val Base = Instant.parse("2024-01-02T00:00:00Z")
  private val timestamps: Gen[Any] = Gen.frequency(
    1 -> Gen.oneOf(Instant.parse("1900-01-01T00:00:00Z"), Instant.EPOCH,
      Instant.parse("2100-12-31T23:59:59.999999Z"), Base.minusNanos(1000)),
    6 -> Gen.chooseNum(-3L * 86400, 3L * 86400).map(s => Base.plusSeconds(s)),
    1 -> Gen.chooseNum(-2000L, 2000L).map(us => Base.plusNanos(us * 1000)))

  private val values: Map[String, Gen[Any]] = Map("id" -> longs, "i" -> ints,
    "d" -> doubles, "s" -> strings, "dt" -> dates, "ts" -> timestamps)

  private def orNull(g: Gen[Any]): Gen[Any] = Gen.frequency(1 -> Gen.const(null), 9 -> g)

  private val rowGen: Gen[Row] =
    Gen.sequence[Seq[Any], Any](schema.fieldNames.toSeq.map(c => orNull(values(c))))
      .map(vs => Row.fromSeq(vs))

  private val layouts: Seq[Seq[String]] = Seq(Nil, Seq("day(ts)"), Seq("bucket(4, id)"),
    Seq("truncate(2, s)"), Seq("bucket(3, s)", "month(dt)"), Seq("bucket(4, d)"))

  /** A literal of column `c`: one of the table's own values or a fresh one. */
  private def literal(c: String, rows: Seq[Row]): Gen[Any] = {
    val own = rows.map(_.get(schema.fieldIndex(c))).filter(_ != null)
    if (own.isEmpty) values(c) else Gen.oneOf(Gen.oneOf(own), values(c))
  }

  private def leaf(rows: Seq[Row]): Gen[Column] = for {
    c <- Gen.oneOf(schema.fieldNames.toSeq)
    kind <- Gen.frequency(6 -> "cmp", 2 -> "in", 1 -> "null", 1 -> "notnull")
    op <- Gen.oneOf("=", "<", "<=", ">", ">=")
    litOnLeft <- Gen.oneOf(false, true)
    v <- literal(c, rows)
    // Above Spark's IN-to-InSet threshold (10) now and then.
    n <- Gen.frequency(4 -> Gen.chooseNum(1, 4), 1 -> Gen.const(12))
    vs <- Gen.listOfN(n, literal(c, rows))
  } yield kind match {
    case "null" => col(c).isNull
    case "notnull" => col(c).isNotNull
    case "in" => col(c).isin(vs: _*)
    case _ =>
      val (l, r) = if (litOnLeft) (lit(v), col(c)) else (col(c), lit(v))
      op match {
        case "=" => l === r
        case "<" => l < r
        case "<=" => l <= r
        case ">" => l > r
        case _ => l >= r
      }
  }

  private def predicate(rows: Seq[Row], depth: Int): Gen[Column] =
    if (depth == 0) leaf(rows)
    else Gen.frequency(
      3 -> leaf(rows),
      1 -> Gen.zip(predicate(rows, depth - 1), predicate(rows, depth - 1)).map { case (a, b) => a && b },
      1 -> Gen.zip(predicate(rows, depth - 1), predicate(rows, depth - 1)).map { case (a, b) => a || b })

  /** Rows counted and data files scanned (numFiles, AQE-aware). */
  private def countScanned(df: DataFrame): (Long, Long) = {
    val q = df.groupBy().count()
    val n = q.collect().head.getLong(0)
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
      case s: QueryStageExec => p +: walk(s.plan)
      case _ => p +: p.children.flatMap(walk)
    }
    (n, walk(q.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec => s.metrics("numFiles").value }.sum)
  }

  /** Write `rows` as an Iceberg-lite table, range-spread over `files`
    * writers, at most `rowsPerGroup` rows per Parquet row group.
    */
  private def writeTable(rows: Seq[Row], partitionBy: Seq[String], files: Int,
      rangeCol: String, rowsPerGroup: Int): String = {
    val dir = tmpDir("file_skipping") + "/t"
    val df = spark.createDataFrame(rows.asJava, schema).repartitionByRange(files, col(rangeCol))
    val key = "parquet.block.row.count.limit"
    spark.conf.set(key, rowsPerGroup.toString)
    try IcebergLiteWriter.write(spark, df, dir, partitionBy)
    finally spark.conf.unset(key)
    dir
  }

  private def rowGroups(dir: String): Seq[Int] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    val it = fs.listFiles(new Path(s"$dir/data"), true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
      .filter(_.getName.endsWith(".parquet")).map { p =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
        try r.getFooter.getBlocks.size finally r.close()
      }.toSeq
  }

  test("a file holding U+FF5E and U+1F600 answers both equalities (byte-ordered bounds)") {
    // UTF-16 orders U+1F600 (a surrogate pair, 0xD83D…) before U+FF5E;
    // Parquet's bounds are unsigned UTF-8 bytes, where U+FF5E comes first.
    val rows = Seq("～", "😀").map(s =>
      Row(1L, 1, 1.0, s, LocalDate.of(2024, 1, 1), Base))
    // One file: first one row group, whose bounds Parquet computes, then
    // one row group per row, whose bounds the writer merges.
    for (rowsPerGroup <- Seq(2, 1)) {
      val dir = writeTable(rows, Nil, files = 1, rangeCol = "id", rowsPerGroup = rowsPerGroup)
      assert(rowGroups(dir) == Seq(2 / rowsPerGroup))
      val scan = IcebergLite.scan(spark, dir)
      for (s <- Seq("😀", "～")) {
        assert(countScanned(scan.filter(col("s") === s)) == ((1L, 1L)), s"$s, $rowsPerGroup")
        assert(scan.filter(col("s") >= s).count() == (if (s == "～") 2 else 1), s"$s, $rowsPerGroup")
      }
      assert(countScanned(scan.filter(col("s") === "\uE000")) == ((0L, 0L)))
    }
  }

  test("bucket pruning on a double keeps -0.0 with 0.0, which = treats as equal") {
    // CAST(-0.0 AS STRING) is "-0.0", so the two zeros land in different
    // buckets of bucket(4, d) while `d = 0.0` holds for both.
    val rows = Seq(0.0, -0.0, 2.5).map(d =>
      Row(1L, 1, d, "a", LocalDate.of(2024, 1, 1), Base))
    val dir = writeTable(rows, Seq("bucket(4, d)"), files = 1, rangeCol = "id", rowsPerGroup = 5)
    val scan = IcebergLite.scan(spark, dir)
    assert(countScanned(scan)._2 == 3)
    for (zero <- Seq(0.0, -0.0)) {
      assert(scan.filter(col("d") === zero).count() == 2, zero)
      assert(scan.filter(col("d").isin(zero, 3.0)).count() == 2, zero)
    }
    assert(countScanned(scan.filter(col("d") === 2.5)) == ((1L, 1L)))
  }

  test("iceberg_scan and spark.read.parquet count the same rows for random tables and predicates") {
    var checked, scanned, listed = 0L
    var multiGroup = false
    for ((partitionBy, t) <- layouts.zipWithIndex; seed = 100L + t) {
      val rows = sample(Gen.listOfN(48, rowGen), seed)
      val rangeCol = sample(Gen.oneOf("id", "d", "s", "ts", "dt"), seed)
      val dir = writeTable(rows, partitionBy, files = 3, rangeCol = rangeCol, rowsPerGroup = 3)
      multiGroup ||= rowGroups(dir).exists(_ > 1)
      val scan = IcebergLite.scan(spark, dir)
      val plain = spark.read.parquet(s"$dir/data")
      val (all, allFiles) = countScanned(scan)
      assert(all == rows.size)
      (0 until 30).foreach { k =>
        val p = sample(predicate(rows, 2), seed * 1000 + k)
        val (got, files) = countScanned(scan.filter(p))
        val want = plain.filter(p).count()
        assert(got == want, s"layout $partitionBy, range on $rangeCol, predicate $p")
        checked += 1; scanned += files; listed += allFiles
      }
    }
    // The check means something only if files were skipped, and if the
    // writer merged several row groups' statistics into one file's bounds.
    assert(scanned < listed, s"no file was skipped in $checked predicates")
    assert(multiGroup, "no table had a file with several row groups")
  }
}
